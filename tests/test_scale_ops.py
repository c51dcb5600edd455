"""Scale-primitive tests: salting preserves results while splitting hot
keys; bucketed tables join with zero exchanges; connected components give
exact transitive dedup."""

from __future__ import annotations

import pathlib
import random
import warnings

import pytest

from pyspark.sql import functions as F

from duckdb_cloudflare_spark.operators import scale as SC
from duckdb_cloudflare_spark.operators.dedup import (
    connected_components,
    minhash_dedup,
    minhash_lsh_pairs,
)
from duckdb_cloudflare_spark.plans import shuffle_count


@pytest.fixture(scope="module")
def skewed(spark):
    # one dominant key (90%) + a uniform tail
    hot = spark.range(0, 9000).select(
        F.lit(1).alias("k"), (F.col("id") % 100).cast("double").alias("v")
    )
    tail = spark.range(0, 1000).select(
        (F.col("id") % 50 + 2).alias("k"), F.col("id").cast("double").alias("v")
    )
    return hot.unionByName(tail)


def test_salted_aggregate_matches_plain(spark, skewed):
    got = SC.salted_aggregate(skewed, ["k"], {"v": "sum"}, salt_buckets=8)
    expected = skewed.groupBy("k").agg(F.sum("v").alias("v_sum"))
    g = {r["k"]: round(r["v_sum"], 6) for r in got.collect()}
    e = {r["k"]: round(r["v_sum"], 6) for r in expected.collect()}
    assert g == e


def test_salted_count_and_minmax(spark, skewed):
    got = SC.salted_aggregate(skewed, ["k"], {"v": "count"}, salt_buckets=8)
    expected = skewed.groupBy("k").agg(F.count("v").alias("c"))
    assert {(r["k"], r["v_count"]) for r in got.collect()} == {
        (r["k"], r["c"]) for r in expected.collect()
    }
    gmax = SC.salted_aggregate(skewed, ["k"], {"v": "max"}, salt_buckets=8)
    emax = skewed.groupBy("k").agg(F.max("v").alias("m"))
    assert {(r["k"], r["v_max"]) for r in gmax.collect()} == {
        (r["k"], r["m"]) for r in emax.collect()
    }


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.range(0, 60).select(
        F.col("id").alias("k"), F.concat(F.lit("name-"), F.col("id")).alias("name")
    )
    got = SC.salted_join(skewed, dim, "k", salt_buckets=4)
    expected = skewed.join(dim, "k")
    assert got.count() == expected.count()
    assert sorted(map(tuple, got.groupBy("k").count().collect())) == sorted(
        map(tuple, expected.groupBy("k").count().collect())
    )


def test_bucketed_join_has_zero_exchanges(spark):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("lv")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("rv")
    )
    SC.write_bucketed(left, "t_bleft", "k", num_buckets=8)
    SC.write_bucketed(right, "t_bright", "k", num_buckets=8)
    joined = SC.bucketed_join(spark, "t_bleft", "t_bright", "k")
    assert joined.count() == 1000
    # the whole point: co-located layout -> no exchange on either side
    assert shuffle_count(joined) == 0


def test_connected_components_chains(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def _union_find(pairs) -> dict:
    """Reference closure on the driver: ``{id: min id of its component}``
    over every id in a pair whose endpoints are both non-NULL."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _components(df) -> dict:
    return {r["id"]: r["component"] for r in df.collect()}


def test_transitive_dedup_keeps_one_per_chain(spark):
    # A chain a~b, b~c where a~c is NOT a direct pair: single-pass dedup and
    # transitive dedup both keep only 'a' here (b and c are each a larger
    # side), but transitive labels them as ONE component.
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and once"),
            (3, "the quick brown fox jumps over a lazy dog again and once"),
            (100, "completely unrelated text about spark query planning today"),
        ],
        "doc_id long, text string",
    )
    lsh = dict(threshold=0.3, k_shingle=2, num_perm=16, num_bands=8)
    survivors = minhash_dedup(docs, transitive=True, **lsh)
    ids = {r["doc_id"] for r in survivors.collect()}
    assert 100 in ids
    assert 1 in ids
    assert len(ids) == 2

    # exactly the docs that are their union-find component's min id, or in
    # no pair at all
    pairs = [(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, **lsh).collect()]
    comp = _union_find(pairs)
    assert ids == {d for d in (1, 2, 3, 100) if comp.get(d, d) == d}


def _seeded_graph(seed: int, string_ids: bool = False):
    """Near-cliques, shuffled-id chains up to diameter 64, self-pairs,
    duplicate and reversed pairs — the shapes a near-dup pair list takes."""
    rng = random.Random(seed)
    nodes = rng.sample(range(100_000), 400)
    pairs = []
    for _ in range(6):  # near-cliques: most, not all, of the pairs
        ids = [nodes.pop() for _ in range(rng.randint(3, 9))]
        pairs += [(a, b) for a in ids for b in ids if a < b and rng.random() < 0.8]
        pairs += [(a, b) for a, b in zip(ids, ids[1:])]  # keep it connected
    for n in (2, 9, 33, 65):  # chains of diameter 1, 8, 32 and 64
        ids = [nodes.pop() for _ in range(n)]
        pairs += list(zip(ids, ids[1:]))
    isolated = nodes.pop()
    pairs += [(isolated, isolated)] + [(a, a) for a, _ in rng.sample(pairs, 5)]
    pairs += rng.sample(pairs, 10)
    pairs += [(b, a) for a, b in rng.sample(pairs, 20)]
    rng.shuffle(pairs)
    if string_ids:
        name = {x: f"{rng.choice('abcdefgh')}{x:06d}" for p in pairs for x in p}
        pairs = [(name[a], name[b]) for a, b in pairs]
    return pairs


class TestConnectedComponentsStar:
    """``connected_components``, the one engine: large-star/small-star."""

    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_matches_union_find_on_seeded_graphs(self, spark, seed):
        pairs = _seeded_graph(seed)
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        assert _components(connected_components(df)) == _union_find(pairs)

    def test_matches_union_find_on_string_ids(self, spark):
        pairs = _seeded_graph(4, string_ids=True)
        df = spark.createDataFrame(pairs, "id_a string, id_b string")
        assert _components(connected_components(df)) == _union_find(pairs)

    def test_long_chain_converges_in_log_rounds(self, spark):
        # diameter-64 chain: the round count follows log² n, not the
        # diameter (label propagation would need ~64 rounds)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], "id_a long, id_b long"
        )
        comp = _components(connected_components(pairs, max_iterations=12))
        assert set(comp) == set(range(65))
        assert set(comp.values()) == {0}

    def test_unconverged_cap_warns(self, spark):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(16)], "id_a long, id_b long"
        )
        with pytest.warns(RuntimeWarning, match="iteration cap"):
            connected_components(pairs, max_iterations=1)

    def test_isolated_self_pair(self, spark):
        pairs = spark.createDataFrame([(5, 5), (7, 9)], "id_a long, id_b long")
        assert _components(connected_components(pairs)) == {5: 5, 7: 7, 9: 7}

    def test_null_endpoint_pairs_are_dropped(self, spark):
        # as an equi-join on the id would drop them: no NULL node, and no
        # doc tied to one
        pairs = spark.createDataFrame(
            [(1, None), (None, None), (None, 4), (2, 3)], "id_a long, id_b long"
        )
        assert _components(connected_components(pairs)) == {2: 2, 3: 2}

    def test_empty_input_returns_no_rows_and_no_warning(self, spark):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            out = connected_components(
                spark.createDataFrame([], "id_a long, id_b long")
            )
        assert out.collect() == []

    @pytest.mark.parametrize(
        "pairs, rounds",
        [([(1, 2), (1, 3)], 1), ([(1, 2), (2, 3)], 2)],
        ids=["star", "chain"],
    )
    def test_one_action_per_round(self, spark, pairs, rounds):
        # Without AQE every action is one Spark job (AQE adds one per shuffle
        # stage). The rounds run at the call: one job materializes the edge
        # set, one per round checkpoints it with its fingerprint, and one
        # confirms the fingerprint match. The parent's two engines paid 9
        # (large-star/small-star) and 4 (min-label) jobs on the chain.
        sc = spark.sparkContext
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        group = f"cc-actions-{rounds}"
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        sc.setJobGroup(group, "connected_components")
        try:
            connected_components(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.conf.set("spark.sql.adaptive.enabled", prev)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1 + rounds + 1

    def test_one_engine_and_no_per_round_probe(self):
        # one CC engine, no variant knob, and no second per-round action
        pkg = pathlib.Path(connected_components.__code__.co_filename).parents[1]
        for path in pkg.rglob("*.py"):
            src = path.read_text()
            assert "connected_components_star" not in src, path
            assert "cc_variant" not in src, path
            if path.parent.name == "operators":
                assert ".limit(1).count()" not in src, path


def test_partitioning_invariance_of_deterministic_stages(spark):
    # The engine claims its sampling/split/packing stages are deterministic
    # functions of the DATA, not of the physical layout. Rerun three such
    # queries under radically different partitionings and require
    # identical row sets — the property that makes results reproducible
    # when the same job runs on 8 or 800 executors.
    from duckdb_cloudflare_spark import queries as Q

    reg = Q.all_queries()
    sf = "/root/testdata/sf0.001"
    for name in ("p18_stratified_downsample", "p19_train_test_split", "p26_sequence_pack"):
        base = {tuple(r) for r in reg[name](spark, sf).collect()}
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            alt = {tuple(r) for r in reg[name](spark, sf).collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        assert base == alt, name


def test_morton_key_bit_interleave_exact(spark):
    from pyspark.sql import functions as F

    from duckdb_cloudflare_spark.operators.scale import morton_key

    df = spark.createDataFrame(
        [(0xFFFF, 0), (0, 0xFFFF), (0xFFFF, 0xFFFF), (0, 0), (0b1010, 0b0101), (3, 1)],
        "a long, b long",
    )
    got = [r["z"] for r in df.select(morton_key(F.col("a"), F.col("b")).alias("z")).collect()]
    # a occupies even bits, b odd bits
    assert got == [
        0x55555555,
        0xAAAAAAAA,
        0xFFFFFFFF,
        0,
        0b1100110,  # a=1010 -> even bits 2,6 (68); b=0101 -> odd bits 1,5 (34)
        0b111,      # a=11 -> 0b101 (5); b=1 -> 0b10 (2)
    ]


def test_morton_key_masks_to_16_bits(spark):
    from pyspark.sql import functions as F

    from duckdb_cloudflare_spark.operators.scale import morton_key

    df = spark.createDataFrame([(0x1FFFF, 0x10000)], "a long, b long")
    z = df.select(morton_key(F.col("a"), F.col("b")).alias("z")).first()["z"]
    assert z == 0x55555555  # high bits beyond 16 ignored on both inputs


class TestMaxDocFreqStopShingles:
    """VERDICT r9 item 6: the hot-shingle skew guard on the inverted-index
    pair engines. A shingle in D docs emits D² pair rows — a planted
    template burst must stay bounded with the cap on, and the cap-off
    default must stay byte-identical to the legacy exact output."""

    @pytest.fixture(scope="class")
    def template_burst(self, spark):
        # 40 docs sharing one boilerplate sentence (every boilerplate
        # shingle has doc-freq 40) + 2 true near-dups sharing RARE
        # shingles + filler docs with unique vocabulary.
        boiler = "all rights reserved contact us terms of service apply"
        rows = [
            (i, f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d")
            for i in range(40)
        ]
        rows.append((100, "rare alpha beta gamma delta epsilon zeta eta"))
        rows.append((101, "rare alpha beta gamma delta epsilon zeta theta"))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cap_bounds_template_pairs(self, spark, template_burst):
        from duckdb_cloudflare_spark.operators.dedup import exact_jaccard_pairs

        # low threshold so boilerplate-only overlap would surface pairs
        uncapped = exact_jaccard_pairs(template_burst, k=3, threshold=0.2)
        capped = exact_jaccard_pairs(
            template_burst, k=3, threshold=0.2, max_doc_freq=10
        )
        un = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
        cp = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        # uncapped: the 40-doc template slice goes quadratic (hundreds of
        # boilerplate-only pairs); capped: every doc-freq-40 shingle is
        # dropped, so template-only pairs vanish entirely
        assert len(un) >= 40 * 39 // 2
        assert all(a >= 100 or b >= 100 for a, b in cp), cp
        # the true near-dup pair (rare shingles, doc-freq 2) survives
        assert (100, 101) in cp
        # cap result is a subset — an underestimate, never an invention
        assert cp <= un

    def test_cap_off_is_byte_identical(self, spark, template_burst):
        from duckdb_cloudflare_spark.operators.dedup import (
            containment_pairs,
            exact_jaccard_pairs,
        )

        legacy = sorted(
            map(tuple, exact_jaccard_pairs(template_burst, k=3, threshold=0.2).collect())
        )
        none_cap = sorted(
            map(
                tuple,
                exact_jaccard_pairs(
                    template_burst, k=3, threshold=0.2, max_doc_freq=None
                ).collect(),
            )
        )
        assert legacy == none_cap
        c_legacy = sorted(
            map(tuple, containment_pairs(template_burst, k=3, threshold=0.8).collect())
        )
        c_none = sorted(
            map(
                tuple,
                containment_pairs(
                    template_burst, k=3, threshold=0.8, max_doc_freq=None
                ).collect(),
            )
        )
        assert c_legacy == c_none

    def test_containment_cap_bounds_quote_fanout(self, spark, template_burst):
        from duckdb_cloudflare_spark.operators.dedup import containment_pairs

        capped = containment_pairs(
            template_burst, k=3, threshold=0.5, max_doc_freq=10
        )
        got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        # boilerplate containment pairs are gone; rare-shingle docs keep
        # their high mutual containment (6 of 8 shingles shared... k=3 on
        # 8 tokens -> 6 shingles, 5 shared -> 5/6 > 0.5)
        assert all(a >= 100 or b >= 100 for a, b in got), got
        assert (100, 101) in got
