"""r13 operator pins: the full iterative BPE merge loop (p111), its
tokenize/apply side (p113), the multimodal curation capstone (p112), and
the q61 window-semantics contract (observed hours, VERDICT r12 item 5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_cloudflare_spark.operators.multimodal import (
    encode_fake_audio,
    encode_fake_image,
    encode_fake_video,
    image_dhash_bytes,
    multimodal_curation_report,
    multimodal_profile,
)
from duckdb_cloudflare_spark.operators.text_analysis import (
    bpe_train,
    bpe_train_reference,
)


# ---------------------------------------------------------------------------
# p111 — iterative BPE merge loop
# ---------------------------------------------------------------------------


def _word_freqs(texts):
    wf = {}
    for t in texts:
        for w in (t or "").split():
            w = w.lower()
            if len(w) >= 2:
                wf[w] = wf.get(w, 0) + 1
    return wf


def test_bpe_train_matches_python_reference_deep(spark):
    # 8 merges over a corpus with ties, multi-character merges, and words
    # that merge down to a single symbol mid-training — the whole
    # path-dependent trajectory must match the classic dict trainer
    texts = [
        "low low low lower lowest newer newest new",
        "wider wide widest low newer er er",
        "banana bandana ananas",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [tuple(r) for r in bpe_train(df, n_merges=8).collect()]
    want = bpe_train_reference(_word_freqs(texts), 8)
    assert got == want
    assert len(got) == 8
    # later merges consume earlier merged symbols (the iterative point):
    # some lhs/rhs must be multi-character by merge 8
    assert any(len(l) > 1 or len(r) > 1 for _, l, r, _, _ in got)


def test_bpe_train_checkpointed_deep_run_matches_reference(spark):
    """checkpoint_every (r13 verdict item 7): 20+ chained merges with
    lineage truncation every 5 steps must complete and be row-identical
    to the Python reference AND to the pure-lineage trainer — the
    production mode for 100s of merges changes plan depth, never
    results."""
    texts = [
        "low low low lower lowest newer newest new",
        "wider wide widest low newer er er",
        "banana bandana ananas bandanna",
        "tokenize tokenizer tokenization token tokens",
        "merge merges merged merging merger",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    want = bpe_train_reference(_word_freqs(texts), 22)
    got_ckpt = [
        tuple(r)
        for r in bpe_train(df, n_merges=22, checkpoint_every=5).collect()
    ]
    assert got_ckpt == want
    assert len(got_ckpt) == 22
    # pure-lineage equivalence is pinned at a survivable depth: a PURE
    # 22-merge chain was observed to KILL the local driver with an RPC
    # timeout during planning (the precise failure mode this option
    # exists to prevent — recorded in PERF.md r14); 10 merges with a
    # 3-step checkpoint interval exercises 3 truncation points
    want10 = bpe_train_reference(_word_freqs(texts), 10)
    got_ckpt10 = [
        tuple(r)
        for r in bpe_train(df, n_merges=10, checkpoint_every=3).collect()
    ]
    got_pure10 = [tuple(r) for r in bpe_train(df, n_merges=10).collect()]
    assert got_ckpt10 == got_pure10 == want10

    import pytest as _pytest

    with _pytest.raises(ValueError, match="checkpoint_every"):
        bpe_train(df, n_merges=2, checkpoint_every=0)


def test_bpe_train_greedy_overlap_semantics(spark):
    # pair (a, a) over 'aaaa'/'aaa': non-overlapping left-to-right — the
    # same greedy pass as Sennrich's scan ('aaa' -> [aa, a], never [a, aa])
    texts = ["aaaa aaa aa"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [tuple(r) for r in bpe_train(df, n_merges=3).collect()]
    want = bpe_train_reference(_word_freqs(texts), 3)
    assert got == want
    assert got[0][1:4] == ("a", "a", "aa")  # first merge is (a,a)


def test_bpe_train_tie_break_is_lexicographic(spark):
    # 'xy' and 'ab' both appear once: the argmax must pick 'ab' (count
    # DESC, lhs ASC, rhs ASC) — engine-order must not leak through
    df = spark.createDataFrame([("xy ab",)], "text string")
    got = [tuple(r) for r in bpe_train(df, n_merges=1).collect()]
    assert got == [(1, "a", "b", "ab", 1)]


def test_bpe_train_exhausts_merges_gracefully(spark):
    # one 2-char word: after merge 1 the vocab is fully merged — no pairs
    # remain, so merges 2..5 produce no rows (reference breaks its loop)
    df = spark.createDataFrame([("ab ab ab",)], "text string")
    got = [tuple(r) for r in bpe_train(df, n_merges=5).collect()]
    want = bpe_train_reference(_word_freqs(["ab ab ab"]), 5)
    assert got == want == [(1, "a", "b", "ab", 3)]


def test_bpe_train_rejects_bad_n_merges(spark):
    df = spark.createDataFrame([("ab",)], "text string")
    with pytest.raises(ValueError, match="n_merges >= 1"):
        bpe_train(df, n_merges=0)


def test_bpe_train_plan_is_pure_jvm(spark):
    # the whole training loop is codegen string/agg work: no Python eval
    # stage may appear in the plan (the p104 map-only discipline, applied
    # to an iterative operator)
    from duckdb_cloudflare_spark.plans.introspect import formatted_plan

    df = spark.createDataFrame([("low lower",)], "text string")
    plan = formatted_plan(bpe_train(df, n_merges=2))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
        assert marker not in plan
    # per-iteration argmax is a 1-row broadcast, never a sort-merge join
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# p112 — multimodal curation capstone
# ---------------------------------------------------------------------------


def _fixture_assets():
    """One asset per curation path. doc_ids are deliberately shuffled
    relative to modality so the report cannot lean on id arithmetic."""
    img_a = encode_fake_image(16, 8, 1, bytes(range(128)))  # cluster A
    img_b = encode_fake_image(16, 8, 1, bytes(reversed(range(128))))
    assert image_dhash_bytes(img_a) != image_dhash_bytes(img_b)
    silent = encode_fake_audio(8000, 64, bytes([128] * 64))
    clipped = encode_fake_audio(8000, 64, bytes([0, 255] * 32))
    normal = encode_fake_audio(8000, 64, bytes([148, 108] * 32))
    vid_ok = encode_fake_video(32, 32, 10, 6)
    vid_short = encode_fake_video(32, 32, 10, 1)
    return [
        (1, img_a),  # image cluster A (3 copies -> 2 dups removed)
        (2, img_a),
        (3, img_a),
        (4, img_b),  # distinct image, kept
        (5, encode_fake_image(1, 8, 1, b"xx")),  # w<2: pixel decode fails
        (6, silent),  # gated: silence_frac 1.0
        (7, clipped),  # gated: clipped_frac 1.0
        (8, normal),  # kept
        (9, vid_ok),  # kept
        (10, vid_short),  # gated: n_frames < 2
        (11, b"garbage-bytes"),  # undecodable container
    ]


def test_multimodal_report_fixture_exercises_every_path(spark):
    df = spark.createDataFrame(_fixture_assets(), "doc_id long, asset binary")
    rows = {
        r["modality"]: r
        for r in multimodal_curation_report(
            df, max_silence=0.8, max_clipped=0.05, min_frames=2
        ).collect()
    }
    img = rows["image"]
    assert (
        img["n_assets"],
        img["n_undecodable"],
        img["n_gated"],
        img["n_dup_removed"],
        img["n_kept"],
    ) == (5, 1, 0, 2, 2)
    aud = rows["audio"]
    assert (
        aud["n_assets"],
        aud["n_undecodable"],
        aud["n_gated"],
        aud["n_dup_removed"],
        aud["n_kept"],
    ) == (3, 0, 2, 0, 1)
    vid = rows["video"]
    assert (
        vid["n_assets"],
        vid["n_undecodable"],
        vid["n_gated"],
        vid["n_dup_removed"],
        vid["n_kept"],
    ) == (2, 0, 1, 0, 1)
    und = rows["undecodable"]
    assert (und["n_assets"], und["n_undecodable"], und["n_kept"]) == (1, 1, 0)


def test_multimodal_report_matches_standalone_operators(spark):
    # the capstone is a composition, not new math: its image cluster
    # arithmetic must agree with image_dhash_dedup run standalone, and its
    # audio gate with with_audio_features' columns
    from duckdb_cloudflare_spark.operators.multimodal import (
        image_dhash_dedup,
        with_audio_features,
    )

    assets = _fixture_assets()
    df = spark.createDataFrame(assets, "doc_id long, asset binary")
    img_ids = {1, 2, 3, 4}  # decodable images only
    imgs = df.filter(F.col("doc_id").isin(*img_ids))
    clusters = image_dhash_dedup(imgs).collect()
    dup_removed = sum(r["cluster_size"] - 1 for r in clusters)
    kept = len(clusters)
    rep = {
        r["modality"]: r
        for r in multimodal_curation_report(
            df, max_silence=0.8, max_clipped=0.05, min_frames=2
        ).collect()
    }
    assert rep["image"]["n_dup_removed"] == dup_removed == 2
    assert rep["image"]["n_kept"] == kept == 2
    auds = df.filter(F.col("doc_id").isin(6, 7, 8))
    feats = {r["doc_id"]: r for r in with_audio_features(auds).collect()}
    gated = sum(
        1
        for r in feats.values()
        if r["silence_frac"] > 0.8 or r["clipped_frac"] > 0.05
    )
    assert rep["audio"]["n_gated"] == gated == 2


def test_multimodal_report_reconciles_on_testdata(spark):
    from duckdb_cloudflare_spark.queries import all_queries

    pdf = (
        all_queries()["p112_multimodal_curation"](spark, "/root/testdata/sf0.001")
        .toPandas()
        .set_index("modality")
    )
    # every modality reconciles exactly: nothing double-counted or lost
    for _, r in pdf.iterrows():
        assert (
            r["n_assets"]
            == r["n_undecodable"] + r["n_gated"] + r["n_dup_removed"] + r["n_kept"]
        )
    n_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert int(pdf["n_assets"].sum()) == n_docs
    assert {"image", "audio", "video"} <= set(pdf.index)


def test_multimodal_report_single_decode_plan(spark):
    # THE reason multimodal_profile exists: over a binary asset column the
    # whole gate->dedup->report pipeline must contain exactly ONE Python
    # stage (the decode); branching per modality would decode 3x (no
    # ReuseExchange in this build)
    from duckdb_cloudflare_spark.plans.introspect import formatted_plan

    import re

    df = spark.createDataFrame(_fixture_assets(), "doc_id long, asset binary")
    plan = formatted_plan(multimodal_curation_report(df))
    # count physical NODES (formatted mode prints each node in the tree
    # AND in the numbered details section — match the detail headers)
    n_python = len(
        re.findall(
            r"^\(\d+\) (?:MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython)",
            plan,
            re.MULTILINE,
        )
    )
    assert n_python == 1, plan


def test_multimodal_profile_modality_dispatch(spark):
    df = spark.createDataFrame(_fixture_assets(), "doc_id long, asset binary")
    rows = {r["doc_id"]: r for r in multimodal_profile(df).collect()}
    assert rows[1]["modality"] == "image" and rows[1]["dhash"] is not None
    assert rows[1]["dhash"] == rows[2]["dhash"] == rows[3]["dhash"]
    assert rows[5]["modality"] == "image" and rows[5]["dhash"] is None
    assert rows[6]["modality"] == "audio" and rows[6]["silence_frac"] == 1.0
    assert rows[7]["clipped_frac"] == 1.0
    assert rows[9]["modality"] == "video" and rows[9]["n_frames"] == 6
    assert rows[11]["modality"] == "undecodable"
    # features stay NULL outside their modality (union-schema contract)
    assert rows[1]["silence_frac"] is None and rows[6]["dhash"] is None


# ---------------------------------------------------------------------------
# q61 — observed-hours window contract (VERDICT r12 item 5)
# ---------------------------------------------------------------------------


def test_q61_trailing_window_is_observed_hours_not_calendar(spark):
    """q61's ROWS-24 frame runs over OBSERVED hours (hours with zero
    events are absent from the hourly fold), so the trailing baseline
    spans quiet gaps — 'the last 24 hours WITH traffic'. This fixture
    pins that contract: a spike after a 10-hour silent gap is scored
    against the 24 observed pre-gap hours (calendar semantics would see
    an under-filled window and emit nothing). The oracle mirrors the
    shape, so cross-engine parity never depended on this choice; the
    streaming twin (anomaly_stream) closes hours by arrival and holds
    the same observed-hours contract."""
    import datetime as dt

    import duckdb_cloudflare_spark.queries as Qm
    from duckdb_cloudflare_spark.queries import all_queries

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    counts = {}
    for h in range(24):  # jittered baseline: var > 0
        counts[h] = 11 if h % 2 else 10
    counts[34] = 300  # spike AFTER a 10-hour silent gap (hours 24..33)
    for h, n in counts.items():
        for i in range(n):
            rows.append(
                (eid, base + dt.timedelta(hours=h, seconds=i), 7, "click", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    key = "/t-q61-gap/events"
    Qm._TABLE_CACHE[key] = df
    try:
        out = all_queries()["q61_event_anomaly"](spark, "/t-q61-gap").collect()
    finally:
        Qm._TABLE_CACHE.pop(key, None)
    assert len(out) == 1
    r = out[0]
    assert r["hour"] == base + dt.timedelta(hours=34)
    # the baseline is exactly the 24 observed pre-gap hours
    assert r["trailing_mean"] == sum(counts[h] for h in range(24)) / 24.0
    assert r["n"] == 300


# ---------------------------------------------------------------------------
# p113 — BPE tokenization with the learned merges
# ---------------------------------------------------------------------------


def _apply_merges(word, merges):
    syms = list(word)
    for _, lhs, rhs, merged, _ in merges:
        ns, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                ns.append(merged)
                i += 2
            else:
                ns.append(syms[i])
                i += 1
        syms = ns
    return syms


def test_bpe_token_counts_matches_python_reference(spark):
    from duckdb_cloudflare_spark.operators.text_analysis import bpe_token_counts

    texts = [
        "low low low lower lowest newer newest new",
        "wider wide widest low newer er er",
        "banana bandana ananas",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [tuple(r) for r in bpe_token_counts(df, n_merges=4, top_n=20).collect()]
    wf = _word_freqs(texts)
    merges = bpe_train_reference(wf, 4)
    counts = {}
    for w, f in wf.items():
        for t in _apply_merges(w, merges):
            counts[t] = counts.get(t, 0) + f
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want
    # the learned merges actually appear as corpus tokens
    merged_syms = {m[3] for m in merges}
    assert merged_syms & {t for t, _ in got}


def test_bpe_token_counts_tokens_are_consistent_with_trainer(spark):
    # every multi-character token the tokenizer emits must be derivable
    # from the trainer's merge table (a token is a chain of merges)
    from duckdb_cloudflare_spark.operators.text_analysis import (
        bpe_token_counts,
        bpe_train,
    )

    df = spark.createDataFrame(
        [("low low low lower lowest newer newest new",)], "text string"
    )
    merges = {r["merged"] for r in bpe_train(df, n_merges=4).collect()}
    tokens = {r["token"] for r in bpe_token_counts(df, n_merges=4, top_n=50).collect()}
    for t in tokens:
        if len(t) > 1:
            assert t in merges, t


def test_bpe_token_counts_plan_is_pure_jvm(spark):
    from duckdb_cloudflare_spark.plans.introspect import formatted_plan

    from duckdb_cloudflare_spark.operators.text_analysis import bpe_token_counts

    df = spark.createDataFrame([("low lower",)], "text string")
    plan = formatted_plan(bpe_token_counts(df, n_merges=2))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
        assert marker not in plan
    assert "SortMergeJoin" not in plan


def test_bpe_token_counts_rejects_bad_n_merges(spark):
    from duckdb_cloudflare_spark.operators.text_analysis import bpe_token_counts

    df = spark.createDataFrame([("ab",)], "text string")
    with pytest.raises(ValueError, match="n_merges >= 1"):
        bpe_token_counts(df, n_merges=0)


# ---------------------------------------------------------------------------
# q65 — calendar-hours densified anomaly twin
# ---------------------------------------------------------------------------


def _half_up(x: float) -> int:
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(x).to_integral_value(rounding=ROUND_HALF_UP))


def test_q65_dense_window_is_calendar_hours(spark):
    """q65 densifies with an hour spine: the same spike-after-a-gap
    fixture q61's observed-hours pin uses now scores the spike against
    24 CALENDAR hours (14 observed + 10 zero-filled), AND the drop to
    zero at the gap's first hours is itself flagged (|z| huge vs the
    jittered baseline) — the monitoring behavior densification buys."""
    import datetime as dt
    import math

    import duckdb_cloudflare_spark.queries as Qm
    from duckdb_cloudflare_spark.queries import all_queries

    base = dt.datetime(2024, 1, 1)
    rows, eid, counts = [], 0, {}
    for h in range(24):
        counts[h] = 11 if h % 2 else 10
    counts[34] = 300  # spike after a 10-hour silent gap (hours 24..33)
    for h, n in counts.items():
        for i in range(n):
            rows.append(
                (eid, base + dt.timedelta(hours=h, seconds=i), 7, "click", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    key = "/t-q65-gap/events"
    Qm._TABLE_CACHE[key] = df
    try:
        out = {
            r["hour"]: r
            for r in all_queries()["q65_event_anomaly_dense"](
                spark, "/t-q65-gap"
            ).collect()
        }
    finally:
        Qm._TABLE_CACHE.pop(key, None)

    # python reference over the DENSE series 0..34
    dense = [counts.get(h, 0) for h in range(35)]
    expect = {}
    for h in range(35):
        w = dense[max(0, h - 24):h]
        if len(w) < 24:
            continue
        s, sq = sum(w), sum(v * v for v in w)
        var = (sq - s * s / 24.0) / 23.0
        if (sq - s * s / 24.0) <= 0:
            continue
        z = (dense[h] - s / 24.0) / math.sqrt(var)
        if abs(z) > 2.5:
            expect[base + dt.timedelta(hours=h)] = (dense[h], s / 24.0, z)
    assert set(out) == set(expect) and len(expect) >= 2
    for hour, (n, mu, z) in expect.items():
        assert out[hour]["n"] == n
        assert out[hour]["trailing_mean"] == mu
        assert abs(out[hour]["zscore"] - z) < 1e-9
    # the spike AND the drop-to-zero are both flagged (q61 flags only the
    # spike — the observed-hours pin next door)
    assert base + dt.timedelta(hours=34) in out
    assert base + dt.timedelta(hours=24) in out
    assert out[base + dt.timedelta(hours=24)]["zscore"] < -2.5


# ---------------------------------------------------------------------------
# p114 — bigram LM cross-entropy (CCNet-style quality gate)
# ---------------------------------------------------------------------------


def _bigram_reference(docs, n_buckets=256):
    """(id, text, is_target) -> {id: (n_bigrams, xent)} — mirrors
    bigram_xent bit-for-bit (md5 buckets, half-up micro rounding)."""
    import hashlib
    import math

    def bucket(tok):
        return (
            int(hashlib.md5(tok.lower().encode()).hexdigest()[:8], 16) % n_buckets
        )

    import re as _re

    def toks(text):
        t = (text or "").strip()
        return _re.split(r"\s+", t) if t else []

    cb, cu = {}, {}
    for _, text, tgt in docs:
        bk = [bucket(t) for t in toks(text)]
        if tgt and len(bk) >= 2:
            for a, b in zip(bk, bk[1:]):
                cb[(a, b)] = cb.get((a, b), 0) + 1
                cu[a] = cu.get(a, 0) + 1
    out = {}
    for did, text, _ in docs:
        bk = [bucket(t) for t in toks(text)]
        if len(bk) < 2:
            continue
        lps = [
            _half_up(
                math.log(
                    (cb.get((a, b), 0) + 1) / (cu.get(a, 0) + n_buckets)
                )
                * 1e6
            )
            for a, b in zip(bk, bk[1:])
        ]
        out[did] = (len(lps), -sum(lps) / (len(lps) * 1e6))
    return out


def test_p114_bigram_xent_matches_python_reference(spark):
    from duckdb_cloudflare_spark.operators.text_analysis import bigram_xent

    docs = [
        (1, "the cat sat on the mat", True),
        (2, "the cat sat", True),
        (3, "zq zq xv xv zq", False),   # off-model: high xent
        (4, "the cat sat on the mat", False),  # on-model but non-target
        (5, "one", False),              # < 2 tokens: excluded
        (6, "", True),                  # blank: excluded
    ]
    df = spark.createDataFrame(
        [(i, t, tg) for i, t, tg in docs], "doc_id long, text string, tgt boolean"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["bigram_xent"])
        for r in bigram_xent(df, target=F.col("tgt")).collect()
    }
    want = _bigram_reference(docs)
    assert set(got) == set(want)
    for did in want:
        assert got[did][0] == want[did][0]
        assert abs(got[did][1] - want[did][1]) < 1e-12, did
    # the gate's point: on-model text scores LOWER than off-model text
    assert got[4][1] < got[3][1]
    # identical text scores identically regardless of target membership
    assert got[1] == got[4]


def test_p114_target_language_scores_lower_on_testdata(spark, sf_dir):
    from duckdb_cloudflare_spark.queries import all_queries

    out = all_queries()["p114_bigram_lm_quality"](spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    j = out.join(docs, "doc_id").groupBy(F.col("lang") == "en").agg(
        F.avg("bigram_xent").alias("m")
    )
    m = {r[0]: r["m"] for r in j.collect()}
    assert m[True] < m[False]


# ---------------------------------------------------------------------------
# p115 — SQ8 quantization audit
# ---------------------------------------------------------------------------


def test_p115_sq8_matches_python_reference(spark):
    import math

    from duckdb_cloudflare_spark.operators.similarity import sq8_audit

    vecs = {
        1: [0.0, 10.0, 5.0, 1.0],
        2: [1.0, 20.0, 5.0, 1.0],
        3: [0.25, 13.37, 5.0, 1.0],   # dims 2,3 constant: rng=0 -> err 0
        4: [0.777, 15.5, 5.0, 1.0],
    }
    df = spark.createDataFrame(
        [(k, [float(x) for x in v]) for k, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["n_dims"], r["mse"], r["max_abs_err"])
        for r in sq8_audit(df).collect()
    }
    import numpy as np

    arr = {k: np.array(v, dtype=np.float32).astype(np.float64) for k, v in vecs.items()}
    dmin = np.min(np.stack(list(arr.values())), axis=0)
    dmax = np.max(np.stack(list(arr.values())), axis=0)
    for k, v in arr.items():
        e2s, aes = [], []
        for j, x in enumerate(v):
            rng = dmax[j] - dmin[j]
            if rng == 0:
                q = 0.0
            else:
                q = min(255.0, max(0.0, math.floor((x - dmin[j]) * 255.0 / rng + 0.5)))
            xhat = dmin[j] + q * rng / 255.0
            e = x - xhat
            e2s.append(_half_up(e * e * 1e12))
            aes.append(_half_up(abs(e) * 1e9))
        n, mse, mae = got[k]
        assert n == len(v)
        assert abs(mse - sum(e2s) / (len(v) * 1e12)) < 1e-15
        assert abs(mae - max(aes) / 1e9) < 1e-12
        # linear-code guarantee: error never exceeds half a step
        step = max((dmax - dmin) / 255.0)
        assert mae <= step / 2 + 1e-9
    # constant dims reconstruct exactly: vector 1 has err only on dims 0,1
    assert got[1][2] >= 0.0


# ---------------------------------------------------------------------------
# p116 — JL sign projection
# ---------------------------------------------------------------------------


def _jl_reference(vecs, out_dims=16, in_dims=64):
    import hashlib
    import math

    import numpy as np

    S = np.zeros((out_dims, in_dims))
    for k in range(out_dims):
        for j in range(in_dims):
            h = int(hashlib.md5(f"{k}_{j}".encode()).hexdigest()[:8], 16)
            S[k, j] = 1.0 if h % 2 == 0 else -1.0
    out = {}
    for vid, v in vecs.items():
        xm = np.array([_half_up(float(x) * 1e6) for x in v], dtype=np.int64)
        ssum = (S[:, : len(xm)] * xm).sum(axis=1)
        out[vid] = ssum / 1e6 / math.sqrt(out_dims)
    return out


def test_p116_jl_matches_numpy_reference(spark, sf_dir):
    from duckdb_cloudflare_spark.operators.similarity import jl_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
    vecs = {
        r["vec_id"]: [float(np.float64(x)) for x in r["embedding"]]
        for r in emb.collect()
    }
    got = {}
    for r in jl_project(emb).collect():
        got.setdefault(r["vec_id"], {})[r["k"]] = r["y"]
    want = _jl_reference(vecs)
    assert set(got) == set(want)
    for vid in want:
        for k in range(16):
            assert abs(got[vid][k] - want[vid][k]) < 1e-12, (vid, k)


import numpy as np  # noqa: E402


def test_p116_jl_length_mismatch_truncates_like_numpy(spark):
    """r13 advice item: vectors whose length != in_dims must follow the
    numpy reference's truncation semantics (S[:, :len(x)]) — longer
    vectors truncated to in_dims, shorter ones contributing only their
    own terms — NOT silently emitting NULL for every coordinate (the
    zip_with NULL-pad trap)."""
    from duckdb_cloudflare_spark.operators.similarity import jl_project

    short = [0.5] * 10          # 10 < 64: 54 missing dims contribute 0
    exact = [0.25] * 64
    long_ = [0.125] * 80        # 80 > 64: truncated to the first 64
    df = spark.createDataFrame(
        [(1, short), (2, exact), (3, long_)],
        "vec_id long, embedding array<double>",
    )
    got = {}
    for r in jl_project(df).collect():
        assert r["y"] is not None, (r["vec_id"], r["k"])
        got.setdefault(r["vec_id"], {})[r["k"]] = r["y"]
    assert set(got) == {1, 2, 3} and all(len(v) == 16 for v in got.values())
    want = _jl_reference({1: short, 2: exact, 3: long_[:64]})
    for vid in want:
        for k in range(16):
            assert abs(got[vid][k] - want[vid][k]) < 1e-12, (vid, k)


def test_p116_jl_preserves_pairwise_distance(spark, sf_dir):
    """The JL point: E[||y_i - y_j||²] = ||x_i - x_j||² for the ±1/√K
    sign matrix. Averaged over all pairs of the sf0.001 embeddings the
    squared-distance ratio must concentrate near 1."""
    from duckdb_cloudflare_spark.operators.similarity import jl_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    X, ids = [], []
    for r in emb.collect():
        ids.append(r["vec_id"])
        X.append(np.array(r["embedding"], dtype=np.float64))
    X = np.stack(X)
    proj = {}
    for r in jl_project(emb).collect():
        proj.setdefault(r["vec_id"], [0.0] * 16)[r["k"]] = r["y"]
    Y = np.stack([np.array(proj[i]) for i in ids])
    ratios = []
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            dx = ((X[i] - X[j]) ** 2).sum()
            if dx == 0:
                continue
            dy = ((Y[i] - Y[j]) ** 2).sum()
            ratios.append(dy / dx)
    m = float(np.mean(ratios))
    assert 0.7 < m < 1.3, m
    # and individual pairs stay within a loose JL band for K=16
    assert float(np.quantile(ratios, 0.99)) < 3.0


# ---------------------------------------------------------------------------
# p117 — split assignment + cross-split leakage audit
# ---------------------------------------------------------------------------


def _py_split(doc_id, train_pct=80, valid_pct=10):
    import hashlib

    b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100
    return "train" if b < train_pct else ("valid" if b < train_pct + valid_pct else "test")


def test_p117_split_proportions_and_determinism(spark):
    from duckdb_cloudflare_spark.operators.curation import assign_split

    df = spark.range(10_000).select(F.col("id").alias("doc_id"))
    counts = {
        r["split"]: r["count"]
        for r in df.select(assign_split().alias("split")).groupBy("split").count().collect()
    }
    assert abs(counts["train"] / 10_000 - 0.80) < 0.02
    assert abs(counts["valid"] / 10_000 - 0.10) < 0.01
    assert abs(counts["test"] / 10_000 - 0.10) < 0.01
    # cross-engine / cross-run determinism: matches the python mirror
    sample = df.select("doc_id", assign_split().alias("split")).limit(200).collect()
    for r in sample:
        assert r["split"] == _py_split(r["doc_id"])


def test_p117_planted_leak_is_counted(spark):
    from duckdb_cloudflare_spark.operators.curation import split_leakage_report

    # find concrete ids in each split with the python mirror
    train_ids = [i for i in range(1000) if _py_split(i) == "train"]
    test_ids = [i for i in range(1000) if _py_split(i) == "test"]
    valid_ids = [i for i in range(1000) if _py_split(i) == "valid"]
    leak = "alpha bravo charlie delta echo foxtrot"  # shared 5-grams
    docs = [
        (train_ids[0], f"{leak} golf hotel india"),
        (test_ids[0], f"prefix words {leak}"),            # leaked from train
        (test_ids[1], "completely novel text with unique tokens here"),
        (valid_ids[0], "another fully unique validation document text"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["split"]: r for r in split_leakage_report(df, shingle_k=5).collect()}
    assert out["test"]["n_docs"] == 2
    assert out["test"]["n_contaminated"] == 1
    assert out["test"]["contamination_rate"] == 0.5
    # "alpha..foxtrot" has two 5-grams; both appear in the test doc
    assert out["test"]["n_shared_shingles"] == 2
    assert out["valid"]["n_docs"] == 1
    assert out["valid"]["n_contaminated"] == 0
    assert out["valid"]["n_shared_shingles"] == 0


# ---------------------------------------------------------------------------
# p118 — token-budget mixture plan
# ---------------------------------------------------------------------------


def test_p118_mix_plan_closed_form(spark):
    import math

    from duckdb_cloudflare_spark.operators.curation import mix_plan

    # big source: 4 docs x 100 tokens; small source: 1 doc x 4 tokens
    docs = [(i, "w " * 99 + "w", "big") for i in range(4)]
    docs.append((99, "a b c d", "small"))
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    out = {r["source"]: r for r in mix_plan(df, budget_frac=0.5).collect()}

    t_big, t_small = 400, 4
    a_big = _half_up(math.sqrt(t_big) * 1e6)      # 20_000_000
    a_small = _half_up(math.sqrt(t_small) * 1e6)  # 2_000_000
    a_sum = a_big + a_small
    T = math.floor((t_big + t_small) * 0.5)       # 202
    for src, t_s, a_s in (("big", t_big, a_big), ("small", t_small, a_small)):
        r = out[src]
        assert r["tokens_available"] == t_s
        assert r["mix_weight"] == a_s / a_sum
        assert r["target_tokens"] == math.floor(T * (a_s / a_sum))
        assert r["sampling_rate"] == r["target_tokens"] / t_s
        assert r["n_epochs"] == -(-r["target_tokens"] // t_s)  # ceil div
    # sqrt flattening upweights the small source past its token share:
    # proportional share would be 4/404 ~ 1%; sqrt mixing gives ~9%
    assert out["small"]["mix_weight"] > 0.05
    # the small source oversamples (rate > 1 -> several epochs), the big
    # one subsamples (rate < 1, one epoch)
    assert out["small"]["sampling_rate"] > 1 and out["small"]["n_epochs"] >= 2
    assert out["big"]["sampling_rate"] < 1 and out["big"]["n_epochs"] == 1
    # budget respected: total target within T (floor slack < n_sources)
    assert T - 2 < sum(r["target_tokens"] for r in out.values()) <= T


def test_p118_blank_and_null_text_excluded(spark):
    from duckdb_cloudflare_spark.operators.curation import mix_plan

    df = spark.createDataFrame(
        [(1, "a b", "s1"), (2, "   ", "s1"), (3, None, "s1"), (4, "", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in mix_plan(df).collect()}
    # s2 has zero tokens -> excluded entirely; s1 counts the blank doc's
    # zero tokens but not the NULL row
    assert set(out) == {"s1"}
    assert out["s1"]["n_docs"] == 2
    assert out["s1"]["tokens_available"] == 2


# ---------------------------------------------------------------------------
# p119 — hard triplet mining
# ---------------------------------------------------------------------------


def test_p119_triplet_mining_planted_geometry(spark):
    from duckdb_cloudflare_spark.operators.similarity import mine_triplets

    # 2-D geometry with hand-checkable cosines. Anchor 0 (label 1) at
    # (1,0); same-label partners at (1,0.1) [close] and (0,1)-ish (0.1,1)
    # [far -> hardest positive]; different-label at (1,0.05) [confusable
    # -> hardest negative] and (-1,0) [easy negative].
    rows = [
        (0, [1.0, 0.0], 1),
        (1, [1.0, 0.1], 1),
        (2, [0.1, 1.0], 1),
        (3, [1.0, 0.05], 2),
        (4, [-1.0, 0.0], 2),
        (5, [0.0, -1.0], None),  # NULL label: never a positive or negative
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    anchors = df.filter(F.col("vec_id") == 0)
    out = mine_triplets(df, anchors).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["anchor_id"], r["label"]) == (0, 1)
    assert r["pos_id"] == 2          # the far same-label vector
    assert r["neg_id"] == 3          # the confusable impostor
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    assert abs(r["pos_sim"] - round(cos([1, 0], [0.1, 1.0]), 6)) < 1e-9
    assert abs(r["neg_sim"] - round(cos([1, 0], [1.0, 0.05]), 6)) < 1e-9
    assert abs(r["margin"] - (r["pos_sim"] - r["neg_sim"])) < 1e-12
    # a hard margin is negative here: the impostor is closer than the
    # hardest positive — exactly the triplet a metric learner needs
    assert r["margin"] < 0


def test_p119_no_partner_classes_reports_nulls(spark):
    from duckdb_cloudflare_spark.operators.similarity import mine_triplets

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = mine_triplets(df, df.filter(F.col("vec_id") == 0)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["pos_id"] == 1 and r["neg_id"] is None and r["neg_sim"] is None
    assert r["margin"] is None
