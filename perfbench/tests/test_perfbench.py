"""Tests of the benchmark's own measurement code and input generators.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
from instrument import Spans, covered, parse_metric  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import run

    spark = run.start_session(2, str(tmp_path_factory.mktemp("spark")))
    yield spark
    spark.stop()


def _collect(spark, action) -> dict:
    from instrument import SparkCollector

    out: dict = {}
    with SparkCollector(spark).operation("test", out):
        action()
    return out


def test_shuffle_query_reports_shuffle_write(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 20000, 1, 4).groupBy((F.col("id") % 97).alias("k")).count()
    m = _collect(spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert m["spark.shuffle_write_mb"] > 0
    assert m["spark.shuffle_read_mb"] > 0
    assert m["spark.jobs"] >= 1 and m["spark.stages"] >= 2


def test_map_in_pandas_reports_python_transfer(spark):
    df = spark.range(0, 20000, 1, 2).mapInPandas(lambda it: (p for p in it),
                                                  schema="id long")
    m = _collect(spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert m["operators.python_sent_mb"] > 0
    assert m["operators.python_returned_mb"] > 0
    assert m["operators.python_rows"] == 20000


def test_span_self_time_subtracts_direct_children():
    now = [0.0]
    spans = Spans(clock=lambda: now[0])
    with spans.span("op"):
        now[0] += 1.0
        with spans.span("child"):
            now[0] += 2.0
            with spans.span("grandchild"):
                now[0] += 4.0
        with spans.span("child"):
            now[0] += 8.0
        now[0] += 16.0
    assert spans.total_s["op"] == 31.0
    assert spans.self_s["op"] == 17.0  # 31 - (6 + 8)
    assert spans.total_s["child"] == 14.0
    assert spans.self_s["child"] == 10.0  # 14 - 4
    assert spans.self_s["grandchild"] == 4.0
    assert spans.count["child"] == 2


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_parse_metric_forms():
    assert parse_metric("1,234") == 1234
    assert parse_metric("2.0 KiB") == 2048
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 MiB (0.5 MiB, "
                        "0.5 MiB, 0.5 MiB (stage 1.0: task 2))") == 1.5 * (1 << 20)


def test_d1_server_time_stays_within_wall_under_concurrent_posts(tmp_path):
    import json
    import subprocess
    import time
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor

    from duckdb_cloudflare_spark.sources.d1 import D1Client, D1Config
    from duckdb_cloudflare_spark.util.http import UrllibTransport

    env = {**os.environ, "PYTHONPATH": os.pathsep.join([ROOT, BENCH])}
    server = subprocess.Popen(
        [sys.executable, os.path.join(BENCH, "d1_server.py"), "--db",
         str(tmp_path / "d1.sqlite")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env)
    try:
        origin = f"http://127.0.0.1:{server.stdout.readline().split()[1]}"
        client = D1Client(D1Config("a", "t", "db", f"{origin}/client/v4"),
                          transport=UrllibTransport())
        client.execute("CREATE TABLE t (x INTEGER)")

        def stats() -> dict:
            with urllib.request.urlopen(f"{origin}/__stats") as r:
                return json.loads(r.read())

        before = stats()
        t0 = time.perf_counter()
        with ThreadPoolExecutor(8) as pool:
            list(pool.map(lambda i: client.batch(
                [f"INSERT INTO t VALUES ({i * 50 + j})" for j in range(50)]), range(16)))
        wall = time.perf_counter() - t0
        after = stats()
        assert after["posts"] - before["posts"] == 16
        assert after["statements"] - before["statements"] == 800
        # lock-serialized SQLite time of the batches fits inside their wall
        assert 0 < after["server_s"] - before["server_s"] <= wall
        assert client.query("SELECT count(*) AS n FROM t")[0]["n"] == 800
    finally:
        server.stdin.close()
        server.wait(timeout=20)


def _tree_digest(path: str) -> str:
    h = hashlib.md5()
    for dirpath, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(root: str, seed: int) -> str:
    gen.gen_tables(os.path.join(root, "sf"), seed, 0.001, n_docs=60, n_vecs=40)
    gen.gen_corpus(os.path.join(root, "corpus"), seed, 30, 20)
    truth = gen.gen_crawl(os.path.join(root, "crawl"), seed)
    gen.gen_d1(os.path.join(root, "d1.sqlite"), seed)
    # fixture directories are absolute paths in the truth: compare counts only
    return repr(sorted((k, v) for k, v in truth.items() if not k.endswith("_dir")))


def test_generators_are_deterministic(tmp_path):
    a = _generate(str(tmp_path / "a"), 11)
    b = _generate(str(tmp_path / "b"), 11)
    c = _generate(str(tmp_path / "c"), 12)
    assert a == b
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
