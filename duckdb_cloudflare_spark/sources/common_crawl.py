"""Common Crawl CDX index DataSource.

Spark-first re-expression of the reference's ``common_crawl_index()`` table
function (/root/reference src/common_crawl_index.cpp: bind :311-414, init
:417-577, scan :580-758):

- one InputPartition PER CRAWL ID — the reference fans out one std::async CDX
  query per crawl (:542-550); here each crawl is an executor task, so the
  fan-out scales with the cluster instead of one node's threads
- crawl resolution order: explicit option/filter → pushed timestamp range via
  collinfo catalog (partition pruning) → latest crawl (:434-456)
- content fetch: HTTP range request + gzip-member decompress + WARC parse per
  record, bounded-concurrency inside each partition (:586-613); fetch errors
  land in response.error, never fail the query
- a URL filter is REQUIRED (:422-426) — same error contract
- ``debug`` option adds the cdx_url column; with ``dry_run`` the reader skips
  the network entirely and emits one row carrying the URL it would request —
  the reference's golden-URL test backbone (SURVEY §5)
- the schema, options, pushdown loop, dry-run/CDX-fetch ``read()`` and the
  in-order fetch window are the scan core in ``cdx.py``, shared with
  ``wayback_machine``; this module holds what is Common Crawl's own

Usage:
    spark.read.format("common_crawl")
         .option("url", "*.example.com/*")
         .option("crawl_id", "CC-MAIN-2025-43")     # optional
         .option("max_results", 100)                # CDX &limit=
         .option("fetch_response", "true")          # WARC content fetch
         .load()
"""

from __future__ import annotations

from pyspark.sql.datasource import InputPartition, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from duckdb_cloudflare_spark.sources.cdx import (
    CC_SCHEMA,
    FETCH_CONCURRENCY,  # noqa: F401  (the fetch window's width, imported from here)
    CDXRecord,
    CdxDataSource,
    CdxReader,
    build_cc_cdx_url,
    build_warc_url,
    parse_cc_ndjson,
    truthy,
)
from duckdb_cloudflare_spark.sources.options import CC_OPTIONS
from duckdb_cloudflare_spark.sources.pushdown import translate_cc_filter
from duckdb_cloudflare_spark.util.http import fetch_with_retry, make_transport
from duckdb_cloudflare_spark.util.text import parse_cdx_timestamp
from duckdb_cloudflare_spark.util.warc import (
    WARCResponse,
    decompress_gzip,
    parse_warc_response,
)

_CDX_FIELDS = ["url", "timestamp", "mimetype", "statuscode", "digest", "filename", "offset", "length"]


class CrawlPartition(InputPartition):
    def __init__(self, crawl_id: str, max_results: int):
        self.crawl_id = crawl_id
        self.max_results = max_results


class CommonCrawlReader(CdxReader):
    source = "common_crawl"
    allowed_options = CC_OPTIONS
    base_schema = CC_SCHEMA
    api = "CDX API"
    translate = staticmethod(translate_cc_filter)

    # -- planning ----------------------------------------------------------
    def _resolve_crawl_ids(self) -> list[str]:
        if self.spec.crawl_ids:
            return self.spec.crawl_ids
        from duckdb_cloudflare_spark.sources.collinfo import CollInfoCatalog

        catalog = CollInfoCatalog(transport=make_transport(self.options))
        if self.spec.from_ts or self.spec.to_ts:
            ids = catalog.crawl_ids_for_range(
                parse_cdx_timestamp(self.spec.from_ts.ljust(14, "0")) if self.spec.from_ts else None,
                parse_cdx_timestamp(self.spec.to_ts.ljust(14, "9")) if self.spec.to_ts else None,
            )
            if ids:
                return ids
        return [catalog.latest_crawl_id()]

    def partitions(self) -> list[InputPartition]:
        self.require_url()
        crawl_ids = self._resolve_crawl_ids()
        # The reference divides a pushed LIMIT across parallel crawls with
        # CEILING division — (limit + n_crawls - 1) / n_crawls
        # (src/common_crawl_index.cpp:1510-1513) — so the union always has
        # at least ``limit`` rows when the matches exist; the exact cap is
        # enforced by the consumer's LIMIT. Floor division would under-fetch
        # (limit=10 over 3 crawls → 3+3+3 = 9 rows max).
        per_crawl = max(1, -(-self.max_results // max(1, len(crawl_ids))))
        return [CrawlPartition(cid, per_crawl) for cid in crawl_ids]

    # -- execution ---------------------------------------------------------
    def cdx_url(self, partition: CrawlPartition) -> str:
        return build_cc_cdx_url(
            partition.crawl_id,
            self.spec.url_pattern,
            _CDX_FIELDS,
            cdx_filters=self.spec.cdx_filters,
            max_results=partition.max_results,
            from_ts=self.spec.from_ts,
            to_ts=self.spec.to_ts,
        )

    def parse(self, body: bytes, partition: CrawlPartition) -> list[CDXRecord]:
        return parse_cc_ndjson(body, partition.crawl_id, need_warc_fields=True)

    def fetch(self, transport, rec: CDXRecord, start: float) -> WARCResponse:
        """Range request + gunzip + WARC parse; errors → response.error
        (src/common_crawl_index.cpp:208-304)."""
        if not rec.filename or rec.offset == 0 or rec.length == 0:
            return WARCResponse()  # invalid record → empty (reference :212-214)
        result = fetch_with_retry(
            transport,
            build_warc_url(rec.filename),
            headers={"Range": f"bytes={rec.offset}-{rec.offset + rec.length - 1}"},
            start_time=start,
            timeout_seconds=self.timeout_seconds,
        )
        if result.error:
            return WARCResponse(error=result.error)
        decompressed = decompress_gzip(result.body)
        if decompressed.startswith(b"[Error"):
            return WARCResponse(error=decompressed.decode("utf-8", errors="replace"))
        return parse_warc_response(decompressed)

    def row(self, rec: CDXRecord, warc: WARCResponse | None) -> dict:
        return {
            "url": rec.url,
            "timestamp": parse_cdx_timestamp(rec.timestamp),
            "mimetype": rec.mime_type,
            "statuscode": rec.status_code,
            "digest": rec.digest,
            "filename": rec.filename,
            "offset": rec.offset,
            "length": rec.length,
            "crawl_id": rec.crawl_id,
            "warc": None if warc is None else (warc.warc_version, warc.warc_headers or {}),
            "response": None if warc is None else (
                warc.body, warc.http_headers or {}, warc.http_version, warc.error
            ),
        }

    def read_crawl(self, crawl_id: str):
        """All rows of one crawl (streaming entry point reuses the batch
        partition logic 1:1 — same URL building, fetching, parsing)."""
        return self.read(CrawlPartition(crawl_id, self.max_results))


class CommonCrawlDataSource(CdxDataSource):
    reader_cls = CommonCrawlReader

    @classmethod
    def name(cls) -> str:
        return "common_crawl"

    def simpleStreamReader(self, schema: StructType) -> "CommonCrawlStreamReader":
        """Streaming surface: each NEW crawl appearing in collinfo.json is
        one micro-batch (the reference is batch-only; this is the natural
        incremental extension — crawl ids are already the partition axis,
        so the stream offset is simply the set of crawls processed)."""
        return CommonCrawlStreamReader(schema, dict(self.options))


class CommonCrawlStreamReader(SimpleDataSourceStreamReader):
    """Incremental Common Crawl: offset = {"processed": "id1,id2,..."}; every
    micro-batch reads the crawls that appeared in collinfo.json since the
    last offset. ``readBetweenOffsets`` replays exactly (crawl content is
    immutable once published — the archive's contract), so the source is
    replayable for end-to-end exactly-once.

    Options are identical to the batch reader (url filter required,
    ``dry_run``/``debug``/``fixture_dir`` honored — the tests stream the
    same fixtures the batch tests read)."""

    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.options = options
        self.batch_reader = CommonCrawlReader(schema, options)
        self.start_latest = truthy(options.get("stream_start_latest", "true"))

    def _catalog_ids(self) -> list[str]:
        from duckdb_cloudflare_spark.sources.collinfo import CollInfoCatalog

        catalog = CollInfoCatalog(transport=make_transport(self.options))
        return [c.id for c in catalog.crawls()]

    def initialOffset(self) -> dict:
        if not self.batch_reader.spec.url_pattern:
            raise ValueError(
                "common_crawl stream requires a URL filter: .option('url', ...)"
            )
        if self.start_latest:
            ids = self._catalog_ids()
            # start AFTER everything but the latest crawl: first batch = latest
            return {"processed": ",".join(sorted(ids[1:]))}
        return {"processed": ""}

    def _new_ids(self, start: dict) -> list[str]:
        done = set(filter(None, start.get("processed", "").split(",")))
        return [cid for cid in self._catalog_ids() if cid not in done]

    def read(self, start: dict):
        new_ids = self._new_ids(start)
        done = set(filter(None, start.get("processed", "").split(",")))
        end = {"processed": ",".join(sorted(done | set(new_ids)))}
        return self._rows_for(new_ids), end

    def readBetweenOffsets(self, start: dict, end: dict):
        done = set(filter(None, start.get("processed", "").split(",")))
        upto = set(filter(None, end.get("processed", "").split(",")))
        return self._rows_for(sorted(upto - done))

    def _rows_for(self, crawl_ids) -> list:
        # a LIST, not a generator: the simple-stream prefetch cache pickles
        # the batch to ship it to executors. Bounded by max_results × crawls.
        rows = []
        for cid in crawl_ids:
            rows.extend(self.batch_reader.read_crawl(cid))
        return rows
