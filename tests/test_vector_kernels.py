"""Characterization of the embedding and dedup kernels on dirty input.

One tiny in-memory frame carries every input shape the kernels must
survive: a NULL vector, a wrong-length vector, a NULL element, a zero
vector and two tied duplicates (plus NULL, empty and duplicated text for
the hashing kernels). Each test pins the output the kernels produce on it,
so a change to how Arrow list columns are decoded cannot silently change a
result. The NULL-element row carries a NULL label, which keeps it out of
``mine_triplets``' positive/negative classes (its NaN similarity is the
subject of the NaN-band tests below, not of the characterization).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from duckdb_cloudflare_spark.operators import dedup as D
from duckdb_cloudflare_spark.operators import similarity as S

SCHEMA = (
    "vec_id long, label int, embedding array<float>, other array<double>, "
    "text string"
)
ROWS = [
    (0, 1, [1.0, 0.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0], "the quick brown fox jumps"),
    (1, 1, [0.5, 0.5, 0.0, 0.0], [0.5, 0.5, 0.0], "the quick brown fox leaps"),
    (2, 2, None, [1.0, 1.0, 1.0, 1.0], None),  # NULL vector, NULL text
    (3, 2, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0], ""),  # wrong length, empty text
    (4, None, [1.0, None, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0], "a b"),  # NULL element
    (5, 2, [0.0, 0.0, 0.0, 0.0], [0.0, 0.0, 0.0, 0.0], "zero zero zero zero"),
    (6, 1, [0.2, 0.3, 0.4, 0.5], [0.5, 0.4, 0.3, 0.2], "dup text here now"),
    (7, 2, [0.2, 0.3, 0.4, 0.5], None, "dup text here now"),  # tied duplicate of 6
    (8, 1, [-1.0, 0.5, 0.0, 0.25], [], "x"),
]
CENTS = np.array(
    [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.5, 0.5, 0.5, 0.5]]
)
PLANES = np.array(
    [[1.0, -1.0, 0.5, 0.0], [-0.5, 0.25, 1.0, -1.0], [0.0, 0.0, -1.0, 1.0]]
)


@pytest.fixture(scope="module")
def dirty(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def _canon(v):
    """Rows compared as plain tuples; NaN as a string so it equals itself."""
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def _rows(df, *order):
    return [tuple(_canon(list(r))) for r in df.orderBy(*order).collect()]


def test_assign_cells_dirty(dirty):
    out = S.assign_cells(dirty, CENTS, n_top=2).select("vec_id", "cells")
    assert _rows(out, "vec_id") == [
        (0, [0, 2]), (1, [0, 1]), (2, []), (3, []), (4, [0, 1]),
        (5, [0, 1]), (6, [2, 1]), (7, [2, 1]), (8, [1, 2]),
    ]
    one = S.assign_cells(dirty, CENTS).select("vec_id", "cell")
    assert _rows(one, "vec_id") == [
        (0, 0), (1, 0), (2, None), (3, None), (4, 0),
        (5, 0), (6, 2), (7, 2), (8, 1),
    ]


def test_brute_force_topk_dirty(dirty):
    # the NULL-element row's NaN similarity is pinned by the NaN-band tests
    queries = dirty.filter(F.col("vec_id").isin(0, 5, 6))
    corpus = dirty.filter(~F.col("vec_id").isin(3, 4))
    out = S.brute_force_topk(queries, corpus, k=3)
    assert _rows(out, "query_id", "nn_rank") == [
        (0, 1, 0.707107, 1), (0, 6, 0.272166, 2), (0, 7, 0.272166, 3),
        (5, 0, 0.0, 1), (5, 1, 0.0, 2), (5, 6, 0.0, 3),
        (6, 7, 1.0, 1), (6, 1, 0.481125, 2), (6, 0, 0.272166, 3),
    ]


def test_brute_force_topk_wrong_length_corpus_raises(dirty):
    queries = dirty.filter(F.col("vec_id") == 0)
    with pytest.raises(Exception, match="dimension"):
        S.brute_force_topk(queries, dirty, k=3).collect()


def test_mine_triplets_dirty(dirty):
    anchors = dirty.filter(F.col("vec_id").isin(0, 1, 5, 6))
    out = S.mine_triplets(dirty, anchors)
    assert _rows(out, "anchor_id") == [
        (0, 1, 8, -0.872872, 7, 0.272166, -1.145038),
        (1, 1, 8, -0.308607, 7, 0.481125, -0.789732),
        (5, 2, 7, 0.0, 0, 0.0, 0.0),
        (6, 1, 8, 0.089087, 7, 1.0, -0.910913),
    ]


def test_cosine_similarity_dirty(dirty):
    out = dirty.select(
        "vec_id", D.cosine_similarity(F.col("embedding"), F.col("other")).alias("c")
    )
    assert _rows(out, "vec_id") == [
        (0, 1.0), (1, 0.0), (2, 0.0), (3, 1.0), (4, None),
        (5, 0.0), (6, 0.8148148198227495), (7, 0.0), (8, 0.0),
    ]


def test_hyperplane_sketch_dirty(dirty):
    out = dirty.select(
        "vec_id", D._hyperplane_sketch(F.col("embedding"), PLANES).alias("s")
    )
    assert _rows(out, "vec_id") == [
        (0, 5), (1, 5), (2, 0), (3, 0), (4, 0),
        (5, 7), (6, 5), (7, 5), (8, 6),
    ]


def test_jl_project_dirty(dirty):
    out = S.jl_project(dirty, in_dims=4, out_dims=3)
    r = 0.5773502691896258
    assert _rows(out, "vec_id", "k") == [
        (0, 0, -r), (0, 1, r), (0, 2, -r),
        (1, 0, -r), (1, 1, 0.0), (1, 2, 0.0),
        (2, 0, None), (2, 1, None), (2, 2, None),
        (3, 0, -r), (3, 1, r), (3, 2, -r),
        (4, 0, -r), (4, 1, r), (4, 2, -r),
        (5, 0, 0.0), (5, 1, 0.0), (5, 2, 0.0),
        (6, 0, 0.23094010767585033), (6, 1, -0.11547005383792516),
        (6, 2, 0.11547005383792516),
        (7, 0, 0.23094010767585033), (7, 1, -0.11547005383792516),
        (7, 2, 0.11547005383792516),
        (8, 0, 0.43301270189221935), (8, 1, -1.0103629710818451),
        (8, 2, 1.0103629710818451),
    ]


def test_minhash_signature_dirty(dirty):
    out = dirty.select(
        "vec_id",
        D.minhash_signature(D.shingles(F.col("text"), 3), num_perm=4).alias("sig"),
    )
    dup = [7994916345810845158, 1547053368583448649, 456774388413576823, 197311954703011448]
    assert _rows(out, "vec_id") == [
        (0, [436704728685089221, 331588911951722291, 7067083826610047231,
             6254764713438562318]),
        (1, [436704728685089221, 331588911951722291, -7157718585647679075,
             6254764713438562318]),
        (2, None),
        (3, None),
        (4, [1191413681520735413, -46413595128241309, 5203677471625160941,
             2085651137498036190]),
        (5, [660238257081679337, -233826993537009785, -590508607435660951,
             1867949431286659258]),
        (6, dup),
        (7, dup),
        (8, [-8561433066345294844, 6822680280983173318, -2987457268999924158,
             -249202697247900613]),
    ]


def test_simhash_dirty(dirty):
    out = dirty.select("vec_id", D.simhash(F.col("text"), bits=32).alias("h"))
    assert _rows(out, "vec_id") == [
        (0, 3020914908), (1, 3028713689), (2, 0), (3, 0), (4, 75800768),
        (5, 3598130709), (6, 547573861), (7, 547573861), (8, 1558761793),
    ]


def test_pq_assign_dirty(dirty):
    out = S.pq_assign(dirty, m=2, sub_dims=2, k=2, n_iters=2)
    # _pq_base drops the NULL, wrong-length and NULL-element rows
    assert _rows(out, "vec_id", "subspace") == [
        (0, 0, 1, 351250000000), (0, 1, 0, 3906250000),
        (1, 0, 1, 51250000000), (1, 1, 0, 3906250000),
        (5, 0, 1, 301250000000), (5, 1, 0, 3906250000),
        (6, 0, 1, 76250000000), (6, 1, 1, 0),
        (7, 0, 1, 76250000000), (7, 1, 1, 0),
        (8, 0, 0, 312500000000), (8, 1, 0, 35156250000),
    ]


# ---------------------------------------------------------------------------
# Non-finite similarities and NULL query/anchor ids
# ---------------------------------------------------------------------------


@pytest.fixture
def one_batch(spark):
    """Frames hash-partitioned on a constant reach the kernel as ONE Arrow
    batch: every row lands in one partition, and at ``defaultParallelism``
    partitions ensure_parallelism leaves the frame as it is (it would
    otherwise spread ten rows into batches too small for the shortlist
    band to engage)."""
    from pyspark.sql import functions as F

    width = spark.sparkContext.defaultParallelism
    return lambda rows, schema: spark.createDataFrame(rows, schema).repartition(
        width, F.lit(0)
    )


VEC2 = "vec_id long, embedding array<double>"
NAN = float("nan")


def _brute(spark, corpus, k=2, queries=((100, [1.0, 0.0]),)):
    q = spark.createDataFrame(list(queries), VEC2)
    return [
        tuple(_canon(list(r)))
        for r in S.brute_force_topk(q, corpus, k=k).orderBy("query_id", "nn_rank").collect()
    ]


def test_brute_force_nan_rows_keep_their_band(spark, one_batch):
    finite = [(i, [1.0, 0.1 * i]) for i in range(7)]
    nans = [(10 + i, [NAN, 1.0]) for i in range(3)]
    got = _brute(spark, one_batch(finite + nans, VEC2))
    # the JVM ranks NaN greatest, so the k=2 answer is two NaN rows
    assert got == [(100, 10, "nan", 1), (100, 11, "nan", 2)]


def test_brute_force_single_nan_row_ranks_first(spark, one_batch):
    finite = [(i, [1.0, 0.1 * i]) for i in range(9)]
    got = _brute(spark, one_batch(finite + [(20, [NAN, 1.0])], VEC2))
    assert got == [(100, 20, "nan", 1), (100, 0, 1.0, 2)]


def test_mine_triplets_nan_row_does_not_hide_the_band(spark, one_batch):
    schema = "vec_id long, embedding array<double>, label int"
    corpus = one_batch(
        [
            (0, [1.0, 0.0], 1),
            (1, [0.9, 0.1], 1),
            (2, [0.5, 0.5], 1),
            (3, [NAN, 1.0], 1),  # NaN orders greatest: never the min positive
            (4, [0.0, 1.0], 2),
            (5, [0.7, 0.7], 2),
        ],
        schema,
    )
    anchors = spark.createDataFrame([(0, [1.0, 0.0], 1)], schema)
    [r] = S.mine_triplets(corpus, anchors).collect()
    assert (r["pos_id"], r["pos_sim"], r["neg_id"], r["neg_sim"]) == (
        2, 0.707107, 5, 0.707107,
    )


def test_brute_force_null_query_id_dropped(spark):
    corpus = spark.createDataFrame([(10, [1.0, 0.0]), (11, [0.0, 1.0])], VEC2)
    got = _brute(spark, corpus, queries=((None, [1.0, 0.0]), (0, [1.0, 0.0])))
    assert got == [(0, 10, 1.0, 1), (0, 11, 0.0, 2)]


def test_mine_triplets_null_anchor_id_dropped(spark):
    schema = "vec_id long, embedding array<double>, label int"
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [0.6, 0.8], 1), (2, [0.8, 0.6], 2)], schema
    )
    anchors = spark.createDataFrame(
        [(None, [1.0, 0.0], 1), (0, [1.0, 0.0], 1)], schema
    )
    got = [tuple(r) for r in S.mine_triplets(corpus, anchors).collect()]
    assert got == [(0, 1, 1, 0.6, 2, 0.8, -0.2)]


def test_brute_force_duplicate_query_id_raises(spark):
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [0.6, 0.8])], VEC2
    )
    with pytest.raises(ValueError, match="brute_force_topk: duplicate queries id 0"):
        _brute(spark, corpus, queries=((0, [1.0, 0.0]), (0, [1.0, 0.0])))


def test_pq_topk_duplicate_query_id_raises(spark):
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [0.6, 0.8])], VEC2
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0]), (0, [1.0, 0.0])], VEC2)
    with pytest.raises(ValueError, match="pq_topk: duplicate queries id 0"):
        S.pq_topk(corpus, queries, k=2, m=1, sub_dims=2, kc=2, n_iters=1)


def test_mine_triplets_duplicate_anchor_id_raises(spark):
    schema = "vec_id long, embedding array<double>, label int"
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [0.6, 0.8], 1), (2, [0.8, 0.6], 2)], schema
    )
    anchors = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (0, [1.0, 0.0], 1)], schema
    )
    with pytest.raises(ValueError, match="mine_triplets: duplicate anchors id 0"):
        S.mine_triplets(corpus, anchors)


# ---------------------------------------------------------------------------
# util/vectors.py: the Arrow list codec
# ---------------------------------------------------------------------------


def test_fixed_honours_slice_offset():
    from duckdb_cloudflare_spark.util import vectors

    arr = pa.array(
        [[1, 2], [3, 4], None, [5, 6, 7], [8, 9]], pa.list_(pa.float32())
    ).slice(1, 4)
    M, rows, wrong = vectors.fixed(arr, 2)
    assert M.dtype == np.float64 and M.flags.c_contiguous
    assert M.tolist() == [[3.0, 4.0], [8.0, 9.0]]
    assert rows.tolist() == [0, 3] and wrong.tolist() == [2]
    assert vectors.lengths(arr).tolist() == [2, -1, 3, 2]
    M, rows, _ = vectors.fixed(arr.slice(3), 2)  # all rows valid, still offset
    assert M.tolist() == [[8.0, 9.0]] and rows.tolist() == [0]
    lens, flat = vectors.ragged(pa.array([[7], None, [], [1, 2]], pa.list_(pa.int64())).slice(1))
    assert lens.tolist() == [0, 0, 2] and flat.tolist() == [1, 2]


@pytest.mark.parametrize("arr", [
    pa.array([None, None], pa.list_(pa.float32())),
    pa.array([], pa.list_(pa.float32())),
], ids=["all_null", "empty"])
def test_fixed_and_ragged_without_valid_rows(arr):
    from duckdb_cloudflare_spark.util import vectors

    M, rows, wrong = vectors.fixed(arr, 4)
    assert M.shape == (0, 4) and len(rows) == 0 and len(wrong) == 0
    lens, flat = vectors.ragged(arr)
    assert lens.tolist() == [0] * len(arr) and len(flat) == 0
    out = vectors.lists(np.zeros((0, 3), np.int64), rows, len(arr))
    assert out.to_pylist() == [None] * len(arr)


def test_fixed_float32_matches_asarray_bit_for_bit():
    from duckdb_cloudflare_spark.util import vectors

    rng = np.random.RandomState(0)
    rows = [list(r) for r in rng.standard_normal((50, 64)).astype(np.float32)]
    rows[7][3] = None  # NULL element → NaN, as np.asarray makes it
    arr = pa.array(rows, pa.list_(pa.float32()))
    M, idx, _ = vectors.fixed(arr, 64)
    old = np.asarray([np.asarray(r, dtype=np.float64) for r in arr.to_pylist()])
    assert idx.tolist() == list(range(50))
    assert np.array_equal(M.view(np.uint64), old.view(np.uint64))


def test_lists_fill_modes():
    from duckdb_cloudflare_spark.util import vectors

    M = np.array([[1, 2], [3, 4]], dtype=np.int64)
    rows = np.array([0, 2])
    assert vectors.lists(M, rows, 3).to_pylist() == [[1, 2], None, [3, 4]]
    assert vectors.lists(M, rows, 3, fill="empty").to_pylist() == [[1, 2], [], [3, 4]]
    assert vectors.lists(M, rows, 3, fill="nulls").to_pylist() == [
        [1, 2], [None, None], [3, 4],
    ]
    assert vectors.lists(M).type == pa.list_(pa.int64())


def test_kernel_modules_decode_only_through_the_codec():
    """No vector kernel decodes list columns its own way, and only the
    shared collect reads the query-side cap."""
    import inspect

    for mod in (S, D):
        src = inspect.getsource(mod)
        for banned in ("pandas_udf", "mapInPandas", "np.vstack"):
            assert banned not in src, (mod.__name__, banned)
    src = inspect.getsource(S)
    reads = src.count('environ.get("SPARK_GRAFT_BRUTE_MAX_QUERIES"')
    assert reads == 1
    assert 'environ.get("SPARK_GRAFT_BRUTE_MAX_QUERIES"' in inspect.getsource(
        S._collect_side
    )
    assert "SPARK_GRAFT_BRUTE_MAX_QUERIES" not in inspect.getsource(D)
