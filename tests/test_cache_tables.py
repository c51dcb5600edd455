"""queries.cache_tables: one size-driven partitioning rule, concurrent
materialization, failure cleanup, and query parity over the cached tables."""

from __future__ import annotations

import glob
import math
import os
import random

import pytest

from duckdb_cloudflare_spark import queries as Q
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
    assert size > Q.PY_OP_BYTES_PER_PART * cores
    Q.cache_tables(spark, sf_dir, tables=("lineitem",), python_op_tables=("lineitem",))
    assert _parts(spark, sf_dir, "lineitem") == cores


def test_documents_sized_at_python_op_rate(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(7)
    text = ["".join(rng.choices("abcdefghijklmnopqrstuvwxyz ", k=2000)) for _ in range(150)]
    pq.write_table(
        pa.table({"doc_id": list(range(150)), "text": text}),
        str(tmp_path / "documents.parquet"),
    )
    size = os.path.getsize(tmp_path / "documents.parquet")
    want = min(spark.sparkContext.defaultParallelism,
               math.ceil(size / Q.PY_OP_BYTES_PER_PART))
    # at the relational rate this table would sit on one partition
    assert size < Q.CACHE_BYTES_PER_PART and want > 1
    Q.cache_tables(spark, str(tmp_path), tables=("documents",))
    assert _parts(spark, str(tmp_path), "documents") == want


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
    assert Q._src_bytes(path) == sum(os.path.getsize(f) for f in files)


def test_uncache_tables_releases_operator_slots(spark):
    from duckdb_cloudflare_spark.util import caching

    held = caching.one_slot_persist("test.slot", spark.range(10))
    held.count()
    assert held.storageLevel.useMemory or held.storageLevel.useDisk
    Q.uncache_tables()
    assert not caching._SLOTS
    assert not (held.storageLevel.useMemory or held.storageLevel.useDisk)


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
