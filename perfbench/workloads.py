"""The three benchmark workloads.

Each workload generates its seeded inputs, sets up (warm-up + hot-table
caching, timed as ``setup_s``), runs one operation at a time through the
library's public API, and checks outputs in an untimed gate:

- ``interactive_sql``: the registered ``q*`` queries over cached sf0.01
  tables, results returned to the client as Arrow.
- ``corpus_sf1``: curation, text and similarity queries over a 10x
  replication of seeded documents and embeddings (bench.py's sf1 recipe
  over a base 25x smaller than bench.py's).
- ``crawl_to_d1``: Common Crawl + Wayback scans with pushdown and content
  fetch, text extraction and dedup, a sized parquet landing, a D1
  write-back over HTTP and a partitioned D1 read-back.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time
import urllib.request
from collections import defaultdict

import gen
from oracle import Oracle, digest, matches

HERE = os.path.dirname(os.path.abspath(__file__))

# A fixed slice of the registry's q* queries: every sixth query (q01, q07,
# ..., q61) plus every dialect query that goes through compat.duck_sql, 19
# of the 72 (q31 has no oracle for the gate and is skipped); a warm pass is
# ~4 s on four cores. Left out for run length: the rest, among them q54
# (recursive CTE, ~9 s of fixed iteration cost on its own).
DIALECT = {"q36_qualify_dialect", "q64_unpivot_measures", "q66_pivot_status_counts",
           "q67_summarize", "q68_similar_to_brands", "q69_groups_frame_window",
           "q70_window_exclude", "q71_asof_join_dialect", "q72_window_exclude_minmax"}
SQL_SF = 0.01

# Six of the fourteen sf1-lane heavies, one or more per operator family,
# with the JVM shingle operators (p73, p91) beside the Python codec
# operators (p108, p112). Left out for run length: p34 and p36 (dedup is
# covered by p73/p91), p104 (text analysis is covered by p114), p50, p64,
# p119, p125 and p126 (its DuckDB oracle alone takes ~10 s).
CORPUS_FAMILIES = {
    "p73_minhash_signatures": "dedup",
    "p91_minhash_est_jaccard": "dedup",
    "p05_knn_bruteforce": "similarity",
    "p114_bigram_lm_quality": "text_analysis",
    "p108_image_dhash_dedup": "multimodal",
    "p112_multimodal_curation": "multimodal",
}
# bench.py replicates the 5000 sf0.1 documents into ~50k; this base is 25x
# smaller (2000 documents, 1000 vectors after replication) so that every
# query runs in one to two seconds and a run makes more than one pass.
CORPUS_BASE_DOCS = 200
CORPUS_BASE_VECS = 100


def warm_python_workers(spark) -> None:
    """Fork the Arrow/pandas worker sets on every core (a scalar
    pandas_udf chained into mapInPandas starts both runners per task)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _ident(s):
        return s

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 8 * n, 1, n).select(_ident("id").alias("id")).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()


class Tracer:
    """What one operation may record: spans, and additive layer values."""

    def __init__(self, spans, traced: bool) -> None:
        self.spans = spans
        self.traced = traced
        self.values: dict[str, float] = defaultdict(float)

    def span(self, name: str):
        return self.spans.span(name)

    def add(self, key: str, v: float) -> None:
        self.values[key] += v


class QueryWorkload:
    """Registry queries against one table directory; the first result of
    every oracle-bearing query is kept for the gate."""

    name = ""
    dependent_steps = False  # a failed query does not stop the pass

    def __init__(self, work: str, seed: int, nproc: int) -> None:
        from duckdb_cloudflare_spark import queries as Q

        self.Q = Q
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.registry = Q.all_queries()
        self.oracles = Q.all_oracles()
        self.results = {}
        self.dir = ""

    def op_family(self, name: str) -> str | None:
        return None

    def run_op(self, spark, name: str, tr: Tracer, pass_no: int) -> int:
        with tr.span("queries.build"):
            df = self.registry[name](spark, self.dir)
        if tr.traced:
            from duckdb_cloudflare_spark.plans import introspect

            with tr.span("plans.optimize"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("plans.introspect"):
                tr.add("plans.shuffles", introspect.shuffle_count(df))
                tr.add("plans.codegen_stages", introspect.codegen_stage_count(df))
        with tr.span("execute"):
            table = df.toArrow()
        if name in self.oracles and name not in self.results:
            self.results[name] = table
        return table.num_rows

    def warm_queries(self, spark, sf_dir: str) -> None:
        """Run every query of the pass once, ``nproc`` at a time, results
        discarded: the timed passes then see warm Python workers, UDFs,
        generated code and JIT, as a session does after its first
        queries."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(self.nproc) as pool:
            list(pool.map(lambda n: self.registry[n](spark, sf_dir).toArrow(), self.ops))

    def release(self, spark) -> None:
        self.Q.uncache_tables()

    def end_pass(self) -> None:
        pass

    def cached_partitions(self, spark, tables) -> int:
        return sum(
            self.Q.load(spark, self.dir, t).rdd.getNumPartitions() for t in tables
        )

    def check(self) -> tuple[int, list[str]]:
        """Hash-compare each kept result with its DuckDB oracle."""
        oracle = Oracle(self.dir, self.tables)
        errors = []
        try:
            for name, table in sorted(self.results.items()):
                try:
                    want = oracle.table(self.oracles[name])
                except Exception as exc:  # oracle itself failed
                    errors.append(f"{name}: oracle error {exc}")
                    continue
                if not matches(table, want):
                    errors.append(f"{name}: rows/hash {digest(table)} != oracle "
                                  f"{digest(want)}")
        finally:
            oracle.close()
        return len(self.results), errors

    def close(self) -> None:
        pass


class InteractiveSql(QueryWorkload):
    name = "interactive_sql"
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def generate(self) -> None:
        self.dir = gen.gen_tables(os.path.join(self.work, "sf"), self.seed, SQL_SF,
                                  n_docs=500, n_vecs=500)
        self.ops = sorted(
            n for n in self.oracles
            if n.startswith("q") and (int(n[1:3]) % 6 == 1 or n in DIALECT)
        )

    def warm(self, spark) -> None:
        self.warm_queries(spark, self.dir)

    def cache(self, spark) -> int:
        self.Q.cache_tables(spark, self.dir)
        return self.cached_partitions(spark, (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents"))


class CorpusSf1(QueryWorkload):
    name = "corpus_sf1"
    tables = ("documents", "embeddings")

    def generate(self) -> None:
        self.dir = gen.gen_corpus(os.path.join(self.work, "corpus"), self.seed,
                                  CORPUS_BASE_DOCS, CORPUS_BASE_VECS)
        self.ops = [n for n in CORPUS_FAMILIES if n in self.registry]

    def op_family(self, name: str) -> str | None:
        return CORPUS_FAMILIES.get(name)

    def warm(self, spark) -> None:
        # over the un-replicated base (a tenth of the rows)
        warm_python_workers(spark)
        self.warm_queries(spark, os.path.join(self.dir, gen.CORPUS_BASE_DIR))

    def cache(self, spark) -> int:
        # the sf1 lane's caching: documents by the library's size policy,
        # embeddings at full parallelism
        self.Q.cache_tables(spark, self.dir, tables=("documents",))
        self.Q.cache_tables(spark, self.dir, tables=("embeddings",),
                            parallelism=spark.sparkContext.defaultParallelism)
        return self.cached_partitions(spark, self.tables)


class CrawlToD1:
    """Federated crawl → curation → parquet → D1 round trip, one pass at a
    time; the six steps of a pass run in order and share state."""

    name = "crawl_to_d1"
    dependent_steps = True  # later steps consume earlier steps' output
    ops = ["cc_scan", "wayback_scan", "extract", "write_parquet", "d1_write", "d1_scan"]

    def __init__(self, work: str, seed: int, nproc: int) -> None:
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.state: dict = {}
        self.errors: list[str] = []
        self.server = None

    # -- inputs and the D1 server ------------------------------------------
    def generate(self) -> None:
        self.truth = gen.gen_crawl(os.path.join(self.work, "crawl"), self.seed)
        db = gen.gen_d1(os.path.join(self.work, "d1.sqlite"), self.seed)
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "d1_server.py"), "--db", db],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.server.stdout.readline().split()
        if not line or line[0] != "PORT":
            raise RuntimeError("D1 server did not start")
        self.origin = f"http://127.0.0.1:{line[1]}"
        self.base_url = f"{self.origin}/client/v4"

    def server_stats(self) -> dict:
        with urllib.request.urlopen(f"{self.origin}/__stats", timeout=30) as r:
            return json.loads(r.read())

    def _client(self):
        from duckdb_cloudflare_spark.sources.d1 import D1Client, D1Config
        from duckdb_cloudflare_spark.util.http import UrllibTransport

        return D1Client(D1Config("bench", "token", "bench-db", self.base_url),
                        transport=UrllibTransport())

    def _d1(self, spark, table: str, partitions: int = 1):
        return (spark.read.format("d1").option("table", table)
                .option("account_id", "bench").option("api_token", "token")
                .option("database_id", "bench-db").option("base_url", self.base_url)
                .option("partitions", str(partitions)).load())

    # -- setup ---------------------------------------------------------------
    def warm(self, spark) -> None:
        from duckdb_cloudflare_spark.session import register_sources

        register_sources(spark)
        warm_python_workers(spark)

    def cache(self, spark) -> int:
        return 0  # nothing hot: every pass reads its sources afresh

    def release(self, spark) -> None:
        pass

    def op_family(self, name: str) -> str | None:
        return None

    # -- the pass --------------------------------------------------------------
    def cc_frame(self, spark):
        from pyspark.sql import functions as F

        lo, hi = scan_range()
        return (
            spark.read.format("common_crawl")
            .option("fixture_dir", self.truth["cc_dir"])
            .option("fetch_response", "true")
            .option("max_results", str(4 * gen.CC_PER_CRAWL))
            .load()
            .where(F.col("url").startswith(gen.CC_PREFIX)
                   & (F.col("statuscode") == 200)
                   & (F.col("mimetype") == "text/html")
                   & (F.col("timestamp") >= F.lit(lo))
                   & (F.col("timestamp") <= F.lit(hi)))
        )

    def wb_frame(self, spark):
        from pyspark.sql import functions as F

        return (
            spark.read.format("wayback_machine")
            .option("fixture_dir", self.truth["wb_dir"])
            .option("url", gen.WB_PREFIX).option("match_type", "prefix")
            .option("collapse", "digest")
            .option("page_size", str(gen.WB_PAGE_SIZE))
            .option("max_results", str(gen.WB_PAGES * gen.WB_PAGE_SIZE))
            .option("fetch_response", "true")
            .load()
            .where(F.col("statuscode") == 200)
        )

    def _land_raw(self, df, src: str, key: str) -> int:
        from pyspark.sql import functions as F

        raw = df.select(
            F.lit(src).alias("src"), "url",
            F.col("response.body").alias("body"),
            F.col("response.error").alias("err"),
        ).persist()
        ok = (F.length("body") > 0) & F.coalesce(F.col("err") == "", F.lit(True))
        n, n_ok = raw.agg(F.count("*"), F.sum(ok.cast("long"))).first()
        self.state[key] = raw
        self.state[key + "_ok"] = int(n_ok or 0)
        return int(n)

    def run_op(self, spark, name: str, tr: Tracer, pass_no: int) -> int:
        return getattr(self, "_" + name)(spark, tr, pass_no)

    def _cc_scan(self, spark, tr, pass_no) -> int:
        with tr.span("sources.common_crawl"):
            n = self._land_raw(self.cc_frame(spark), "cc", "cc")
        self._expect(pass_no, "cc rows", n, self.truth["cc_kept"])
        return n

    def _wayback_scan(self, spark, tr, pass_no) -> int:
        with tr.span("sources.wayback"):
            n = self._land_raw(self.wb_frame(spark), "wb", "wb")
        self._expect(pass_no, "wayback rows", n, self.truth["wb_rows"])
        return n

    def _extract(self, spark, tr, pass_no) -> int:
        fetched = self.state["cc_ok"] + self.state["wb_ok"]
        self._expect(pass_no, "fetched bodies", fetched, self.truth["ok_bodies"])
        out = self.extract_frame().persist()
        n = out.count()
        self.state["docs"] = out
        self.state["n_docs"] = n
        self._expect(pass_no, "deduped docs", n, self.truth["docs"])
        return n

    def extract_frame(self):
        """Bodies → sanitized text → language → exact dedup."""
        from pyspark.sql import functions as F

        from duckdb_cloudflare_spark.functions.content import sanitize_utf8_col
        from duckdb_cloudflare_spark.operators.dedup import exact_dedup
        from duckdb_cloudflare_spark.operators.text_analysis import identify_language

        raw = self.state["cc"].unionByName(self.state["wb"])
        ok = raw.where((F.length("body") > 0) & F.coalesce(F.col("err") == "", F.lit(True)))
        text = F.regexp_extract(sanitize_utf8_col(F.col("body")), r"<p>(.*)</p>", 1)
        docs = ok.select(F.xxhash64("url").alias("doc_id"), "url", text.alias("text"))
        docs = docs.withColumn("lang", identify_language(F.col("text")))
        kept = exact_dedup(docs).select("doc_id")
        return docs.join(kept, "doc_id").select(
            "doc_id", "url", "lang", F.length("text").cast("long").alias("n_chars"), "text")

    def _write_parquet(self, spark, tr, pass_no) -> int:
        from duckdb_cloudflare_spark.sources.write import write_sized_parquet

        path = os.path.join(self.work, "landed", f"pass-{pass_no}")
        with tr.span("write.sized_parquet"):
            write_sized_parquet(self.state["docs"], path, target_file_mb=1)
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        tr.add("write.files", len(files))
        tr.add("write.mb", sum(os.path.getsize(os.path.join(path, f)) for f in files) / 1e6)
        n = spark.read.parquet(path).count()
        self.state["path"] = path
        self._expect(pass_no, "parquet rows", n, self.state["n_docs"])
        return n

    def _d1_write(self, spark, tr, pass_no) -> int:
        from pyspark.sql import functions as F

        from duckdb_cloudflare_spark.catalog.d1_batch import (
            d1_insert_df,
            d1_insert_df_distributed,
        )

        landed = spark.read.parquet(self.state["path"]).withColumn(
            "pass_id", F.lit(pass_no))
        client = self._client()
        before = self.server_stats() if tr.traced else None
        with tr.span("catalog.d1_insert_distributed"):
            n_docs = d1_insert_df_distributed(
                landed.select("doc_id", "pass_id", "url", "lang", "n_chars", "text"),
                "docs", client)
        summary = landed.groupBy("pass_id", "lang").agg(
            F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
        with tr.span("catalog.d1_insert_driver"):
            n_sum = d1_insert_df(summary, "lang_summary", client)
        self.state["written"] = (n_docs, n_sum)
        if before is not None:
            self._server_delta(tr, before, "write")
            tr.add("catalog.rows_written", n_docs + n_sum)
        self._expect(pass_no, "d1 docs written", n_docs, self.state["n_docs"])
        return n_docs + n_sum

    def _d1_scan(self, spark, tr, pass_no) -> int:
        from pyspark.sql import functions as F

        before = self.server_stats() if tr.traced else None
        n_docs = self._d1(spark, "docs", self.nproc).where(
            F.col("pass_id") == pass_no).count()
        n_sum = self._d1(spark, "lang_summary").where(F.col("pass_id") == pass_no).count()
        if before is not None:
            self._server_delta(tr, before, "scan")
        self._expect(pass_no, "d1 docs scanned", n_docs, self.state["written"][0])
        self._expect(pass_no, "d1 summary scanned", n_sum, self.state["written"][1])
        return n_docs + n_sum

    def _server_delta(self, tr, before: dict, phase: str) -> None:
        after = self.server_stats()
        tr.add("catalog.d1_posts", after["posts"] - before["posts"])
        tr.add("catalog.d1_statements", after["statements"] - before["statements"])
        tr.add(f"catalog.d1_{phase}_statements", after["statements"] - before["statements"])
        tr.add("catalog.d1_server_s", after["server_s"] - before["server_s"])

    def end_pass(self) -> None:
        for key in ("cc", "wb", "docs"):
            df = self.state.pop(key, None)
            if df is not None:
                df.unpersist()
        self.state.clear()

    def _expect(self, pass_no: int, what: str, got: int, want: int) -> None:
        if got != want:
            msg = f"pass {pass_no}: {what} {got} != {want}"
            self.errors.append(msg)
            raise AssertionError(msg)

    def check(self) -> tuple[int, list[str]]:
        # reconciliation runs inside every step; the gate reports it
        return 0, list(self.errors)

    # -- in-process source drive (traced runs) -------------------------------
    def drive_sources(self, spark) -> dict:
        """Drive both readers' ``partitions()``/``read()`` in this process
        with a counting transport and timed gzip/WARC parsing."""
        import threading

        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThanOrEqual,
            LessThanOrEqual,
            StringStartsWith,
        )
        from pyspark.sql.types import StructType

        from duckdb_cloudflare_spark.sources import common_crawl as cc_mod
        from duckdb_cloudflare_spark.sources import wayback as wb_mod
        from duckdb_cloudflare_spark.util import http as http_mod

        lock = threading.Lock()
        m: dict[str, float] = defaultdict(float)

        def bump(**kw):
            with lock:
                for k, v in kw.items():
                    m[k] += v

        class Counting:
            def __init__(self, inner):
                self.inner = inner

            def get(self, url, headers=None):
                t0 = time.perf_counter()
                try:
                    body = self.inner.get(url, headers)
                finally:
                    bump(**{"http.requests": 1, "http.fetch_s": time.perf_counter() - t0})
                bump(**{"http.mb": len(body) / 1e6})
                return body

            def post(self, url, body, headers=None):
                return self.inner.post(url, body, headers)

        def timed(fn, key, size_key=None):
            def wrapper(data):
                t0 = time.perf_counter()
                out = fn(data)
                extra = {size_key: len(out) / 1e6} if size_key else {}
                bump(**{key: time.perf_counter() - t0}, **extra)
                return out
            return wrapper

        def counted_fetch(transport, url, *a, **kw):
            attempts = [0]

            class Attempts:
                def get(self, u, headers=None):
                    attempts[0] += 1
                    return transport.get(u, headers)

            try:
                return orig_fetch(Attempts(), url, *a, **kw)
            finally:
                bump(**{"http.retries": max(0, attempts[0] - 1)})

        orig_fetch = http_mod.fetch_with_retry
        saved = {
            (cc_mod, "make_transport"): cc_mod.make_transport,
            (wb_mod, "make_transport"): wb_mod.make_transport,
            (cc_mod, "fetch_with_retry"): cc_mod.fetch_with_retry,
            (wb_mod, "fetch_with_retry"): wb_mod.fetch_with_retry,
            (cc_mod, "decompress_gzip"): cc_mod.decompress_gzip,
            (cc_mod, "parse_warc_response"): cc_mod.parse_warc_response,
        }
        orig_make = http_mod.make_transport
        cc_mod.make_transport = wb_mod.make_transport = lambda o: Counting(orig_make(o))
        cc_mod.fetch_with_retry = wb_mod.fetch_with_retry = counted_fetch
        cc_mod.decompress_gzip = timed(saved[(cc_mod, "decompress_gzip")],
                                       "warc.gunzip_s", "warc.decompressed_mb")
        parse = timed(saved[(cc_mod, "parse_warc_response")], "warc.parse_s")

        def parse_counted(data):
            bump(**{"warc.records": 1})
            return parse(data)

        cc_mod.parse_warc_response = parse_counted
        lo, hi = scan_range()
        scans = [
            (cc_mod.CommonCrawlDataSource({
                "fixture_dir": self.truth["cc_dir"], "fetch_response": "true",
                "max_results": str(4 * gen.CC_PER_CRAWL)}),
             [StringStartsWith(("url",), gen.CC_PREFIX), EqualTo(("statuscode",), 200),
              EqualTo(("mimetype",), "text/html"), GreaterThanOrEqual(("timestamp",), lo),
              LessThanOrEqual(("timestamp",), hi)]),
            (wb_mod.WaybackMachineDataSource({
                "fixture_dir": self.truth["wb_dir"], "url": gen.WB_PREFIX,
                "match_type": "prefix", "collapse": "digest",
                "page_size": str(gen.WB_PAGE_SIZE),
                "max_results": str(gen.WB_PAGES * gen.WB_PAGE_SIZE),
                "fetch_response": "true"}),
             [EqualTo(("statuscode",), 200)]),
        ]
        try:
            offered = absorbed = fetched = kept = 0
            for ds, filters in scans:
                schema = StructType.fromDDL(ds.schema())
                reader = ds.reader(schema)
                residual = list(reader.pushFilters(filters))
                offered += len(filters)
                absorbed += len(filters) - len(residual)
                t0 = time.perf_counter()
                parts = reader.partitions()
                m["sources.plan_s"] += time.perf_counter() - t0
                m["sources.partitions"] += len(parts)
                ts_i = [f.name for f in schema.fields].index("timestamp")
                t0 = time.perf_counter()
                for p in parts:
                    for row in reader.read(p):
                        fetched += 1
                        t = row[ts_i]
                        if not residual or (t is not None and lo <= t.replace(
                                tzinfo=dt.timezone.utc) <= hi):
                            kept += 1
                m["sources.read_s"] += time.perf_counter() - t0
        finally:
            for (mod, attr), fn in saved.items():
                setattr(mod, attr, fn)
        m["sources.rows_per_s"] = fetched / m["sources.read_s"] if m["sources.read_s"] else 0.0
        m["sources.filters_absorbed_ratio"] = absorbed / offered
        m["sources.rows_kept_ratio"] = kept / fetched if fetched else 0.0
        return dict(m)

    def close(self) -> None:
        if self.server is not None:
            self.server.stdin.close()
            try:
                self.server.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.server.kill()
                self.server.wait()
            self.server = None


def scan_range() -> tuple[dt.datetime, dt.datetime]:
    """The crawl scan's timestamp bounds as UTC instants."""
    return (gen.SCAN_FROM.replace(tzinfo=dt.timezone.utc),
            gen.SCAN_TO.replace(tzinfo=dt.timezone.utc))


WORKLOADS = {w.name: w for w in (InteractiveSql, CorpusSf1, CrawlToD1)}
