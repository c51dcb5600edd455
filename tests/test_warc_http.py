"""Unit tests for util.warc (gzip + WARC/HTTP parsing) and util.http (retry
envelope) — parity expectations from /root/reference src/web_archive_utils.cpp
and the fetch retry loops in src/common_crawl_index.cpp:208-304."""

from __future__ import annotations

import gzip

from duckdb_cloudflare_spark.sources.collinfo import CollInfoCatalog
from duckdb_cloudflare_spark.util.http import FetchResult, HttpError, fetch_with_retry
from duckdb_cloudflare_spark.util.text import parse_iso8601
from duckdb_cloudflare_spark.util.warc import (
    decompress_gzip,
    parse_headers,
    parse_warc_response,
)

WARC_CRLF = (
    b"WARC/1.0\r\n"
    b"WARC-Type: response\r\n"
    b"WARC-Target-URI: http://example.com/\r\n"
    b"\r\n"
    b"HTTP/1.1 200 OK\r\n"
    b"Content-Type: text/html\r\n"
    b"Set-Cookie: a=1\r\n"
    b"Set-Cookie: b=2\r\n"
    b"\r\n"
    b"<html>hello</html>"
)

WARC_LF = (
    b"WARC/1.1\n"
    b"WARC-Type: response\n"
    b"\n"
    b"HTTP/1.0 404\n"
    b"Content-Type: text/plain\n"
    b"\n"
    b"nope"
)


class TestGzip:
    def test_roundtrip(self):
        assert decompress_gzip(gzip.compress(b"payload")) == b"payload"

    def test_error_marker(self):
        out = decompress_gzip(b"not gzip at all")
        assert out.startswith(b"[Error: Gzip decompression failed")


class TestParseHeaders:
    def test_duplicates_joined(self):
        h = parse_headers("A: 1\r\nA: 2\r\nB: x\r\n")
        assert h["A"] == "1, 2" and h["B"] == "x"

    def test_lf_only(self):
        assert parse_headers("K: v\nL: w")["L"] == "w"

    def test_lines_without_colon_skipped(self):
        assert parse_headers("garbage\nK: v")["K"] == "v"


class TestParseWarc:
    def test_crlf_record(self):
        r = parse_warc_response(WARC_CRLF)
        assert r.warc_version == "1.0"
        assert r.warc_headers["WARC-Type"] == "response"
        assert r.http_version == "1.1"
        assert r.http_status_code == 200
        assert r.http_headers["Content-Type"] == "text/html"
        assert r.http_headers["Set-Cookie"] == "a=1, b=2"
        assert r.body == b"<html>hello</html>"

    def test_lf_record(self):
        r = parse_warc_response(WARC_LF)
        assert r.warc_version == "1.1"
        assert r.http_status_code == 404
        assert r.body == b"nope"

    def test_malformed_returns_empty(self):
        r = parse_warc_response(b"no blank lines here")
        assert r.warc_version == "" and r.body == b""


class _FlakyTransport:
    """Fails with given errors then succeeds."""

    def __init__(self, errors, payload=b"ok"):
        self.errors = list(errors)
        self.payload = payload
        self.calls = 0

    def get(self, url, headers=None):
        self.calls += 1
        if self.errors:
            raise self.errors.pop(0)
        return self.payload


class TestRetryEnvelope:
    def test_success_first_try(self):
        t = _FlakyTransport([])
        r = fetch_with_retry(t, "http://x", sleep=lambda s: None)
        assert r.body == b"ok" and r.error == "" and t.calls == 1

    def test_retry_on_503(self):
        t = _FlakyTransport([HttpError(503, "HTTP 503: Service Unavailable")])
        r = fetch_with_retry(t, "http://x", sleep=lambda s: None)
        assert r.body == b"ok" and t.calls == 2

    def test_non_retryable_fails_fast(self):
        t = _FlakyTransport([HttpError(404, "HTTP 404: Not Found")])
        r = fetch_with_retry(t, "http://x", sleep=lambda s: None)
        assert r.error == "HTTP 404: Not Found" and t.calls == 1

    def test_exhausts_retries(self):
        t = _FlakyTransport([HttpError(503, "HTTP 503: x")] * 10)
        r = fetch_with_retry(t, "http://x", sleep=lambda s: None)
        assert r.error.startswith("Failed after 5 retries") and t.calls == 5

    def test_backoff_sequence(self):
        delays = []
        t = _FlakyTransport([HttpError(503, "HTTP 503: x")] * 10)
        fetch_with_retry(t, "http://x", sleep=lambda s: delays.append(s))
        assert delays == [0.1, 0.2, 0.4, 0.8]

    def test_wallclock_budget(self):
        t = _FlakyTransport([])
        r = fetch_with_retry(t, "http://x", start_time=-1e9, timeout_seconds=180)
        assert r.error.startswith("Timeout after") and t.calls == 0


COLLINFO_JSON = b"""[
  {"id": "CC-MAIN-2025-47", "name": "November 2025 Index",
   "from": "2025-11-06T20:07:18", "to": "2025-11-19T12:34:13"},
  {"id": "CC-MAIN-2025-43", "name": "October 2025 Index",
   "from": "2025-10-06T00:00:00", "to": "2025-10-20T00:00:00"},
  {"id": "CC-MAIN-2024-46", "name": "November 2024 Index",
   "from": "2024-11-01T00:00:00", "to": "2024-11-15T00:00:00"}
]"""


class _StaticTransport:
    def __init__(self, payload):
        self.payload = payload
        self.calls = 0

    def get(self, url, headers=None):
        self.calls += 1
        return self.payload


class TestCollInfo:
    def test_latest_is_first(self):
        cat = CollInfoCatalog(_StaticTransport(COLLINFO_JSON))
        assert cat.latest_crawl_id() == "CC-MAIN-2025-47"

    def test_ttl_cache(self):
        t = _StaticTransport(COLLINFO_JSON)
        now = [0.0]
        cat = CollInfoCatalog(t, clock=lambda: now[0])
        cat.crawls()
        cat.crawls()
        assert t.calls == 1
        now[0] = 25 * 3600  # past TTL
        cat.crawls()
        assert t.calls == 2

    def test_range_overlap(self):
        cat = CollInfoCatalog(_StaticTransport(COLLINFO_JSON))
        ids = cat.crawl_ids_for_range(
            parse_iso8601("2025-10-10T00:00:00"), parse_iso8601("2025-11-10T00:00:00")
        )
        assert ids == ["CC-MAIN-2025-47", "CC-MAIN-2025-43"]

    def test_range_unbounded_from(self):
        cat = CollInfoCatalog(_StaticTransport(COLLINFO_JSON))
        ids = cat.crawl_ids_for_range(None, parse_iso8601("2024-12-01T00:00:00"))
        assert ids == ["CC-MAIN-2024-46"]

    def test_empty_response_raises(self):
        import pytest

        with pytest.raises(IOError):
            CollInfoCatalog(_StaticTransport(b"")).crawls()


class _CountingCdxTransport:
    """CDX query → N records; WARC range GETs counted (streaming-emission test)."""

    def __init__(self, n_records: int):
        import gzip as _gz
        self.n = n_records
        self.warc_calls = 0
        warc = (
            b"WARC/1.0\r\nWARC-Type: response\r\n\r\n"
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>x</p>"
        )
        self._payload = _gz.compress(warc)

    def get(self, url: str, headers=None) -> bytes:
        if "index.commoncrawl.org" in url:
            lines = [
                (
                    '{"url": "http://x.com/%d", "timestamp": "20250101000000", '
                    '"mime": "text/html", "status": "200", "digest": "D%d", '
                    '"filename": "crawl-data/seg/warc/f.warc.gz", '
                    '"offset": "%d", "length": "%d"}'
                )
                % (i, i, 100 + i * 10, len(self._payload))
                for i in range(self.n)
            ]
            return ("\n".join(lines) + "\n").encode()
        self.warc_calls += 1
        return self._payload

    def post(self, url: str, body: bytes, headers=None) -> bytes:
        raise ValueError("unexpected POST")


class TestStreamingWarcEmission:
    def test_first_row_yields_before_last_fetch(self, monkeypatch):
        from pyspark.sql.types import StringType, StructField, StructType

        from duckdb_cloudflare_spark.sources import common_crawl as cc_mod
        from duckdb_cloudflare_spark.sources.common_crawl import (
            CommonCrawlReader,
            CrawlPartition,
            FETCH_CONCURRENCY,
        )

        n = 40
        transport = _CountingCdxTransport(n)
        monkeypatch.setattr(cc_mod, "make_transport", lambda options: transport)

        # only field NAMES matter to read() — no SparkSession needed
        names = ["url", "timestamp", "mimetype", "statuscode", "digest",
                 "filename", "offset", "length", "crawl_id", "warc", "response"]
        reader = CommonCrawlReader(
            StructType([StructField(f, StringType()) for f in names]),
            {"url": "*.x.com/*", "fetch_response": "true", "max_results": str(n)},
        )
        gen = reader.read(CrawlPartition("CC-MAIN-2025-01", n))
        first = next(gen)
        # bounded prefetch: after the first row, at most window+1 fetches have
        # been REQUESTED — the other ~half of the partition is still unfetched
        assert transport.warc_calls <= 2 * FETCH_CONCURRENCY + 1
        assert transport.warc_calls < n
        rest = list(gen)
        assert 1 + len(rest) == n
        assert transport.warc_calls == n
        # in-CDX-order emission preserved
        urls = [first[0]] + [r[0] for r in rest]
        assert urls == [f"http://x.com/{i}" for i in range(n)]


class _CountingWaybackTransport:
    """Serves an n-record Wayback CDX page and counts archived-page GETs."""

    def __init__(self, n: int):
        self.n = n
        self.page_calls = 0

    def get(self, url: str, headers=None) -> bytes:
        if "/cdx/search/cdx" in url:
            return "\n".join(
                f"com,x)/{i} 20250101000000 http://x.com/{i} text/html 200 D{i} 100"
                for i in range(self.n)
            ).encode()
        self.page_calls += 1
        return b"<html>page</html>"

    def post(self, url: str, body: bytes, headers=None) -> bytes:
        raise ValueError("unexpected POST")


class TestStreamingWaybackEmission:
    def test_first_row_yields_before_last_fetch(self, monkeypatch):
        from pyspark.sql.types import StringType, StructField, StructType

        from duckdb_cloudflare_spark.sources import wayback as wb_mod
        from duckdb_cloudflare_spark.sources.cdx import FETCH_CONCURRENCY
        from duckdb_cloudflare_spark.sources.wayback import PagePartition, WaybackReader

        n = 40
        transport = _CountingWaybackTransport(n)
        monkeypatch.setattr(wb_mod, "make_transport", lambda options: transport)

        # only field NAMES matter to read() — no SparkSession needed
        names = ["url", "timestamp", "urlkey", "mimetype", "statuscode", "digest",
                 "length", "response", "year", "month"]
        reader = WaybackReader(
            StructType([StructField(f, StringType()) for f in names]),
            {"url": "x.com/", "fetch_response": "true", "max_results": str(n)},
        )
        gen = reader.read(PagePartition(0, n))
        first = next(gen)
        # bounded prefetch: after the first row at most window+1 page fetches
        # have been REQUESTED, not the whole partition
        assert transport.page_calls <= 2 * FETCH_CONCURRENCY + 1
        assert transport.page_calls < n
        rest = list(gen)
        assert transport.page_calls == n
        # in-CDX-order emission, each row with its own page
        rows = [first] + rest
        assert [r[0] for r in rows] == [f"http://x.com/{i}" for i in range(n)]
        assert all(r[7] == (b"<html>page</html>", "") for r in rows)
