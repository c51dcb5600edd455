"""SQL table-function parity: the reference's ``SELECT * FROM
common_crawl_index(url := ..., ...)`` call shape as Python UDTFs, sharing
the DataSource readers (golden URLs, options, error contract identical by
construction)."""

from __future__ import annotations

import gzip
import json

import pytest

from duckdb_cloudflare_spark.sources.cdx import build_cc_cdx_url

CC_CRAWL = "CC-MAIN-2025-43"
CC_FIELDS = ["url", "timestamp", "mimetype", "statuscode", "digest",
             "filename", "offset", "length"]


@pytest.fixture(scope="module")
def tf_spark(spark):
    from duckdb_cloudflare_spark.functions.table_functions import (
        register_table_functions,
    )

    register_table_functions(spark)
    return spark


@pytest.fixture(scope="module")
def tf_fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tf_fixtures")
    member = gzip.compress(
        b"WARC/1.0\r\nWARC-Type: response\r\n\r\n"
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>tf</html>"
    )
    (d / "blob.warc.gz").write_bytes(member)
    cdx_rows = [
        {
            "url": "https://www.example.com/",
            "timestamp": "20251015120000",
            "mime": "text/html",
            "status": "200",
            "digest": "DIGESTAAAA",
            "filename": "crawl-data/seg/x.warc.gz",
            "offset": "10",
            "length": str(len(member)),
        }
    ]
    (d / "cc_cdx.ndjson").write_text("\n".join(json.dumps(r) for r in cdx_rows))
    cc_url = build_cc_cdx_url(CC_CRAWL, "*.example.com/*", CC_FIELDS, max_results=100)
    (d / "manifest.json").write_text(json.dumps({cc_url: "cc_cdx.ndjson"}))
    return str(d)


class TestSchemasPinnedToDataSourceDDL:
    """Each table function's analyze schema is its DataSource's schema()
    DDL, with ``debug`` on (``cdx_url`` appended) and off."""

    @staticmethod
    def _check(udtf, data_source, url):
        from pyspark.sql.types import StructType

        for debug in ("false", "true"):
            opts = {"url": url, "debug": debug}
            analyzed = udtf.analyze(**opts).schema
            assert analyzed == StructType.fromDDL(data_source(opts).schema())
            assert ("cdx_url" in analyzed.fieldNames()) == (debug == "true")

    def test_cc_schema_matches_datasource_ddl(self, spark):
        from duckdb_cloudflare_spark.functions.table_functions import CommonCrawlIndexUDTF
        from duckdb_cloudflare_spark.sources.common_crawl import CommonCrawlDataSource

        self._check(CommonCrawlIndexUDTF, CommonCrawlDataSource, "*.example.com/*")

    def test_wayback_schema_matches_datasource_ddl(self, spark):
        from duckdb_cloudflare_spark.functions.table_functions import WaybackMachineUDTF
        from duckdb_cloudflare_spark.sources.wayback import WaybackMachineDataSource

        self._check(WaybackMachineUDTF, WaybackMachineDataSource, "example.com")


class TestCommonCrawlUDTF:
    def test_dry_run_golden_url(self, tf_spark):
        rows = tf_spark.sql(
            "SELECT cdx_url FROM common_crawl_index("
            "url => '*.example.com/*', crawl_id => 'CC-MAIN-2025-43', "
            "debug => 'true', dry_run => 'true')"
        ).collect()
        expected = build_cc_cdx_url(
            CC_CRAWL, "*.example.com/*", CC_FIELDS, max_results=100
        )
        assert [r["cdx_url"] for r in rows] == [expected]

    def test_duckdb_named_arg_syntax_via_duck_sql(self, tf_spark):
        from duckdb_cloudflare_spark.compat import duck_sql

        rows = duck_sql(
            tf_spark,
            "SELECT cdx_url FROM common_crawl_index("
            "url := '*.example.com/*', crawl_id := 'CC-MAIN-2025-43', "
            "debug := 'true', dry_run := 'true')",
        ).collect()
        assert rows[0]["cdx_url"].startswith("https://index.commoncrawl.org/")

    def test_rows_match_datasource_reader(self, tf_spark, tf_fixture_dir):
        from duckdb_cloudflare_spark.session import register_sources

        register_sources(tf_spark)
        via_udtf = tf_spark.sql(
            "SELECT url, timestamp, statuscode, crawl_id FROM common_crawl_index("
            f"url => '*.example.com/*', crawl_id => '{CC_CRAWL}', "
            f"fixture_dir => '{tf_fixture_dir}')"
        ).collect()
        via_ds = (
            tf_spark.read.format("common_crawl")
            .option("url", "*.example.com/*")
            .option("crawl_id", CC_CRAWL)
            .option("fixture_dir", tf_fixture_dir)
            .load()
            .select("url", "timestamp", "statuscode", "crawl_id")
            .collect()
        )
        assert via_udtf == via_ds
        assert via_udtf[0]["url"] == "https://www.example.com/"

    def test_unknown_option_is_bind_time_error(self, tf_spark):
        from pyspark.errors import AnalysisException

        with pytest.raises(AnalysisException, match="unknown option"):
            tf_spark.sql(
                "SELECT * FROM common_crawl_index(url => 'x', bogus => '1')"
            ).collect()


class TestWaybackUDTF:
    def test_dry_run_golden_url(self, tf_spark):
        rows = tf_spark.sql(
            "SELECT cdx_url FROM wayback_machine("
            "url => 'example.com/*', debug => 'true', dry_run => 'true')"
        ).collect()
        assert len(rows) == 1
        assert rows[0]["cdx_url"].startswith("https://web.archive.org/cdx/search/cdx")


@pytest.fixture(scope="module")
def tf_d1_db(tmp_path_factory):
    import sqlite3

    d = tmp_path_factory.mktemp("tf_d1")
    path = str(d / "fixture.sqlite")
    con = sqlite3.connect(path)
    con.executescript(
        """
        CREATE TABLE users (id INTEGER PRIMARY KEY, name TEXT, score REAL);
        INSERT INTO users VALUES (1, 'alice', 91.5);
        INSERT INTO users VALUES (2, 'bob', 12.25);
        """
    )
    con.commit()
    con.close()
    return path


_D1_ARGS = (
    "account_id => 'acct', api_token => 'tok', "
    "database_id => '00000000-0000-0000-0000-000000000001'"
)


class TestD1UDTFs:
    def test_d1_scan_typed_rows(self, tf_spark, tf_d1_db):
        df = tf_spark.sql(
            f"SELECT * FROM d1_scan(table => 'users', {_D1_ARGS}, "
            f"d1_sqlite_stub => '{tf_d1_db}')"
        )
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "bigint", "string", "double",
        ]
        assert sorted(tuple(r) for r in df.collect()) == [
            (1, "alice", 91.5), (2, "bob", 12.25),
        ]

    def test_d1_query_all_varchar(self, tf_spark, tf_d1_db):
        df = tf_spark.sql(
            "SELECT * FROM d1_query(sql => 'SELECT id, score FROM users "
            f"ORDER BY id', {_D1_ARGS}, d1_sqlite_stub => '{tf_d1_db}')"
        )
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "string", "string",
        ]
        assert [tuple(r) for r in df.collect()] == [("1", "91.5"), ("2", "12.25")]

    def test_d1_scan_missing_table_is_bind_error(self, tf_spark, tf_d1_db):
        from pyspark.errors import AnalysisException

        with pytest.raises(AnalysisException, match="requires a table"):
            tf_spark.sql(
                f"SELECT * FROM d1_scan({_D1_ARGS}, "
                f"d1_sqlite_stub => '{tf_d1_db}')"
            ).collect()


class TestNamedArgRewrite:
    def test_rewrite_and_string_safety(self):
        from duckdb_cloudflare_spark.compat import rewrite_named_args as rw

        assert rw("SELECT * FROM f(a := 1, b := 'x')") == (
            "SELECT * FROM f(a => 1, b => 'x')"
        )
        assert rw("SELECT ':=' AS s, x FROM t") == "SELECT ':=' AS s, x FROM t"
        # cast operator :: is untouched
        assert rw("SELECT x::INT FROM t") == "SELECT x::INT FROM t"


class TestScanLimitPushdownE2E:
    def test_duck_sql_limit_reaches_the_cdx_url(self, tf_spark):
        """The duck_sql LIMIT pushdown end-to-end: `... LIMIT 3` over a
        bare common_crawl_index scan must cap the CDX fetch server-side —
        the dry_run golden URL carries &limit=3 (the reference deletes
        the LIMIT node and sets exactly this — common_crawl_index.cpp:
        1474-1526); the Spark-side LIMIT still enforces the exact n."""
        from duckdb_cloudflare_spark.compat import duck_sql

        rows = duck_sql(
            tf_spark,
            "SELECT cdx_url FROM common_crawl_index("
            "url := '*.example.com/*', crawl_id := 'CC-MAIN-2025-43', "
            "debug := 'true', dry_run := 'true') LIMIT 3",
        ).collect()
        expected = build_cc_cdx_url(
            CC_CRAWL, "*.example.com/*", CC_FIELDS, max_results=3
        )
        assert [r["cdx_url"] for r in rows] == [expected]

    def test_duck_sql_wayback_topn_pushes_fast_latest(self, tf_spark):
        """ORDER BY timestamp DESC LIMIT n over a bare wayback scan must
        request the server's newest-first ordering with a NEGATIVE CDX
        limit (the reference's fastLatest, internet_archive.cpp:1415-1475)
        — visible in the dry_run golden URL as limit=-n."""
        from duckdb_cloudflare_spark.compat import duck_sql

        rows = duck_sql(
            tf_spark,
            "SELECT cdx_url FROM wayback_machine("
            "url := 'example.com/*', debug := 'true', dry_run := 'true') "
            "ORDER BY timestamp DESC LIMIT 4",
        ).collect()
        got = rows[0]["cdx_url"]
        assert "limit=-4" in got, got

    def test_duck_sql_limit_reaches_the_d1_remote_sql(self, tf_spark, tf_d1_db):
        """LIMIT over a bare d1_scan injects the `limit` reader option,
        which re-serializes into the remote SELECT (build_select_sql,
        reference d1_scan.cpp:325-393) — the stub executes that SQL, so a
        pushed LIMIT 1 returns exactly one row from a 2-row table."""
        from duckdb_cloudflare_spark.compat import duck_sql, rewrite_scan_limit

        sql = (
            f"SELECT * FROM d1_scan(table => 'users', {_D1_ARGS}, "
            f"d1_sqlite_stub => '{tf_d1_db}') LIMIT 1"
        )
        assert "limit => 1" in rewrite_scan_limit(sql)
        rows = duck_sql(tf_spark, sql).collect()
        assert len(rows) == 1
