"""util.sizing's one partition-count rule (cache_tables, ensure_parallelism,
exchange_width) and queries.cache_tables: concurrent materialization,
failure cleanup, and query parity over the cached tables."""

from __future__ import annotations

import glob
import math
import os
import random

import pytest

from duckdb_cloudflare_spark import queries as Q
from duckdb_cloudflare_spark.util import sizing
from duckdb_cloudflare_spark.util.sizing import (
    CACHE_BYTES_PER_PART,
    PY_OP_BYTES_PER_PART,
    ensure_parallelism,
    exchange_width,
)
from tests.test_oracle_parity import _driver_canon, _norm_cell

DEFAULT_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
)


@pytest.fixture(autouse=True)
def _release():
    yield
    Q.uncache_tables()


def _parts(spark, sf_dir: str, table: str) -> int:
    return Q.load(spark, sf_dir, table).rdd.getNumPartitions()


def _rows(pdf) -> list[tuple]:
    return sorted(tuple(_norm_cell(v) for v in r) for r in pdf.itertuples(index=False))


def test_small_table_caches_on_one_partition(spark, sf_dir):
    assert os.path.getsize(f"{sf_dir}/region.parquet") < 4096
    Q.cache_tables(spark, sf_dir, tables=("region",))
    assert _parts(spark, sf_dir, "region") == 1


def test_table_above_rate_times_cores_caches_at_cores(spark, sf_dir):
    cores = spark.sparkContext.defaultParallelism
    size = os.path.getsize(f"{sf_dir}/lineitem.parquet")
    assert size > PY_OP_BYTES_PER_PART * cores
    Q.cache_tables(spark, sf_dir, tables=("lineitem",), python_op_tables=("lineitem",))
    assert _parts(spark, sf_dir, "lineitem") == cores


def _random_docs(path, n_docs: int) -> int:
    """One single-file documents parquet of random text; returns its bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(7)
    text = ["".join(rng.choices("abcdefghijklmnopqrstuvwxyz ", k=2000)) for _ in range(n_docs)]
    pq.write_table(pa.table({"doc_id": list(range(n_docs)), "text": text}), str(path))
    return os.path.getsize(path)


def test_documents_sized_at_python_op_rate(spark, tmp_path):
    size = _random_docs(tmp_path / "documents.parquet", 150)
    want = min(spark.sparkContext.defaultParallelism,
               math.ceil(size / PY_OP_BYTES_PER_PART))
    # at the relational rate this table would sit on one partition
    assert size < CACHE_BYTES_PER_PART and want > 1
    Q.cache_tables(spark, str(tmp_path), tables=("documents",))
    assert _parts(spark, str(tmp_path), "documents") == want


def test_file_uri_sized_like_plain_path(spark, sf_dir):
    kw = dict(tables=("region", "lineitem"), python_op_tables=("lineitem",))
    Q.cache_tables(spark, sf_dir, **kw)
    plain = [_parts(spark, sf_dir, t) for t in kw["tables"]]
    Q.cache_tables(spark, f"file://{sf_dir}", **kw)
    uri = [_parts(spark, f"file://{sf_dir}", t) for t in kw["tables"]]
    assert plain == uri and uri[1] > 1


def test_small_scan_stays_on_one_partition(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sizing.plan_bytes(df) < PY_OP_BYTES_PER_PART
    assert df.rdd.getNumPartitions() == 1
    assert ensure_parallelism(df) is df


@pytest.mark.parametrize("n_docs", [150, 600])
def test_single_file_scan_spread_by_size(spark, tmp_path, n_docs):
    cores = spark.sparkContext.defaultParallelism
    path = tmp_path / "documents.parquet"
    size = _random_docs(path, n_docs)
    df = spark.read.parquet(str(path))
    assert df.rdd.getNumPartitions() == 1
    want = min(math.ceil(size / PY_OP_BYTES_PER_PART), cores)
    assert want > 1
    spread = ensure_parallelism(df)
    assert spread.rdd.getNumPartitions() == want
    # already at its target: returned as it is, no second exchange
    assert ensure_parallelism(spread) is spread
    plan = spread._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Repartition") == 1


def test_rdd_backed_frame_spread_to_cores(spark):
    rdd = spark.sparkContext.parallelize([(i,) for i in range(10)], 1)
    df = spark.createDataFrame(rdd, "id long")
    assert sizing.plan_bytes(df) == 2**63 - 1  # size unknown to Spark
    assert ensure_parallelism(df).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_exchange_width_ignores_shuffle_partitions(spark, sf_dir):
    cores = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        one = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assert exchange_width(one) == cores
        wide = spark.range(100, numPartitions=cores + 4)
        assert exchange_width(wide) == cores + 4
    finally:
        spark.conf.set(key, prev)


def test_explicit_parallelism_wins(spark, sf_dir):
    Q.cache_tables(spark, sf_dir, tables=("region", "lineitem"), parallelism=3)
    assert _parts(spark, sf_dir, "region") == 3
    assert _parts(spark, sf_dir, "lineitem") == 3


def test_every_table_cached_under_callers_job_group(spark, sf_dir):
    sc = spark.sparkContext
    sc.setJobGroup("cache_tables_test", "concurrent materialization")
    try:
        Q.cache_tables(spark, sf_dir)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    for t in DEFAULT_TABLES:
        df = Q._TABLE_CACHE[f"{sf_dir.rstrip('/')}/{t}"]
        assert df.storageLevel.useMemory, t
    # every per-table job ran from a pool thread, yet under the caller's group
    assert len(sc.statusTracker().getJobIdsForGroup("cache_tables_test")) >= len(
        DEFAULT_TABLES
    )


def test_missing_table_raises_and_caches_nothing(spark, sf_dir):
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(Exception, match="(?i)path"):
        Q.cache_tables(spark, sf_dir, tables=("region", "no_such_table"))
    assert not Q._TABLE_CACHE
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before


def test_partitioned_directory_sized_by_its_files(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t.parquet")
    spark.range(2000).withColumn("k", F.col("id") % 4).write.partitionBy("k").parquet(path)
    files = glob.glob(f"{path}/k=*/*.parquet")
    assert len(files) >= 4
    assert sizing.plan_bytes(spark.read.parquet(path)) == sum(
        os.path.getsize(f) for f in files
    )


def test_uncache_tables_releases_operator_slots(spark):
    from duckdb_cloudflare_spark.util import caching

    held = caching.one_slot_persist("test.slot", spark.range(10))
    held.count()
    assert held.storageLevel.useMemory or held.storageLevel.useDisk
    Q.uncache_tables()
    assert not caching._SLOTS
    assert not (held.storageLevel.useMemory or held.storageLevel.useDisk)


def test_dedup_bases_held_one_per_slot(spark):
    """minhash/LSH, SimHash and embedding near-dup each persist a
    corpus-sized base: a second call releases the first call's, and
    uncache_tables releases the last."""
    from duckdb_cloudflare_spark.operators import dedup as D

    def calls(r: int):  # a new corpus each round: no cache hit on the last
        docs = spark.createDataFrame(
            [(i, f"the cat sat on mat {i % 3} and ran off {r}") for i in range(12)],
            "doc_id long, text string",
        )
        vecs = spark.createDataFrame(
            [(i, [1.0, float(i % 2), r + 0.5]) for i in range(12)],
            "vec_id long, embedding array<double>",
        )
        return (
            D.minhash_lsh_pairs(docs),
            D.simhash_pairs(docs),
            D.embedding_neardup_pairs(vecs),
        )

    Q.uncache_tables()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = len(persistent())
    for r in range(2):
        for pairs in calls(r):
            pairs.collect()
    assert len(persistent()) - before <= 3
    Q.uncache_tables()
    assert len(persistent()) == before


@pytest.mark.parametrize("name", [
    "q01_pricing_summary", "q03_shipping_priority", "q28_time_bucket",
    "q36_qualify_dialect",
])
def test_queries_over_cached_tables_match_oracle(spark, duck, sf_dir, name):
    Q.cache_tables(spark, sf_dir)
    got = _driver_canon(Q.all_queries()[name](spark, sf_dir).toPandas())
    want = _driver_canon(duck.sql(Q.all_oracles()[name]).df())
    assert sorted(got.columns) == sorted(want.columns)
    assert _rows(got) == _rows(want)


def test_slot_registry_keeps_one_live_entry_under_concurrent_calls():
    import sys
    import threading

    from duckdb_cloudflare_spark.util import caching

    class Fake:
        live = 0
        lock = threading.Lock()

        def persist(self, level):
            with Fake.lock:
                Fake.live += 1
            return self

        def unpersist(self, blocking=False):
            with Fake.lock:
                Fake.live -= 1

    def worker():
        for _ in range(300):
            caching.one_slot_persist("test.concurrent", Fake())

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    # a lost update would leave an entry persisted but no longer in the registry
    assert Fake.live == 1
    caching.release_slot("test.concurrent")
    assert Fake.live == 0
