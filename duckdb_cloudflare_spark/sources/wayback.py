"""Internet Archive Wayback Machine DataSource.

Spark-first re-expression of the reference's ``wayback_machine()`` table
function (/root/reference src/internet_archive.cpp: bind :360-454, init
:457-571, scan :574-693):

- schema: url, timestamp, urlkey, mimetype, statuscode, digest, length,
  response struct<body binary, error string>, computed year/month columns
  (:434-440, derived from the 14-char CDX timestamp at scan time :663-678),
  debug-only cdx_url
- options mirror the named parameters + the pushdowns Python can't see:
  max_results, collapse (repeatable via ';;'), debug, timeout, url,
  match_type, from, to, fast_latest (negative limit, TopN stays in the Spark
  plan exactly as the reference keeps it, :1393-1403), offset, fetch_response
- one partition per OFFSET PAGE when ``page_size`` is set (the CDX API
  supports offset pagination, :126-129) — otherwise a single partition;
  archived-page fetches fan out with bounded concurrency inside the partition
- the schema, options, pushdown loop, dry-run/CDX-fetch ``read()`` and the
  in-order fetch window are the scan core in ``cdx.py``, shared with
  ``common_crawl``; this module holds what is the Wayback Machine's own
"""

from __future__ import annotations

from pyspark.sql.datasource import InputPartition, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from duckdb_cloudflare_spark.sources.cdx import (
    WAYBACK_ORDERED_FIELDS,
    WAYBACK_SCHEMA,
    ArchiveOrgRecord,
    CdxDataSource,
    CdxReader,
    build_wayback_cdx_url,
    build_wayback_page_url,
    drain,
    parse_wayback_csv,
    truthy,
)
from duckdb_cloudflare_spark.sources.options import WAYBACK_OPTIONS
from duckdb_cloudflare_spark.sources.pushdown import translate_wayback_filter
# make_transport is looked up in this module by CdxReader.read
from duckdb_cloudflare_spark.util.http import fetch_with_retry, make_transport  # noqa: F401
from duckdb_cloudflare_spark.util.text import parse_cdx_timestamp


class PagePartition(InputPartition):
    def __init__(self, offset: int, limit: int):
        self.offset = offset
        self.limit = limit


def _int_prefix(s: str, lo: int, hi: int) -> int | None:
    return int(s[lo:hi]) if len(s) >= hi and s[lo:hi].isdigit() else None


class WaybackReader(CdxReader):
    source = "wayback_machine"
    allowed_options = WAYBACK_OPTIONS
    base_schema = WAYBACK_SCHEMA
    api = "Internet Archive CDX API"
    translate = staticmethod(translate_wayback_filter)

    def __init__(self, schema: StructType, options: dict):
        super().__init__(schema, options)
        self.collapses = [c for c in options.get("collapse", "").split(";;") if c]
        self.fast_latest = truthy(options.get("fast_latest"))
        self.offset = int(options.get("offset", 0))
        self.page_size = int(options.get("page_size", 0))

    def partitions(self) -> list[InputPartition]:
        self.require_url()
        if self.page_size > 0 and not self.fast_latest:
            pages = []
            off = self.offset
            remaining = self.max_results
            while remaining > 0:
                size = min(self.page_size, remaining)
                pages.append(PagePartition(off, size))
                off += size
                remaining -= size
            return pages
        return [PagePartition(self.offset, self.max_results)]

    def cdx_url(self, partition: PagePartition) -> str:
        # '*.' prefix → the CDX API treats the pattern itself as a domain
        # query (reference emits the pattern unchanged,
        # internet_archive_pushdown.test:462-505).
        return build_wayback_cdx_url(
            self.spec.url_pattern,
            match_type=self.spec.match_type,
            fields_needed=list(WAYBACK_ORDERED_FIELDS),
            cdx_filters=self.spec.cdx_filters,
            from_date=self.spec.from_ts,
            to_date=self.spec.to_ts,
            max_results=partition.limit,
            collapses=self.collapses,
            fast_latest=self.fast_latest,
            offset=partition.offset,
        )

    def parse(self, body: bytes, partition: PagePartition) -> list[ArchiveOrgRecord]:
        return parse_wayback_csv(body, list(WAYBACK_ORDERED_FIELDS))

    def fetch(self, transport, rec: ArchiveOrgRecord, start: float) -> tuple:
        """Full GET of the raw archived page; errors as row data
        (src/internet_archive.cpp:271-353)."""
        if not rec.timestamp or not rec.original:
            return (None, "Missing timestamp or URL")
        result = fetch_with_retry(
            transport,
            build_wayback_page_url(rec.timestamp, rec.original),
            start_time=start,
            timeout_seconds=self.timeout_seconds,
        )
        if result.error:
            return (None, result.error)
        return (result.body, "")

    def row(self, rec: ArchiveOrgRecord, response: tuple | None) -> dict:
        return {
            "url": rec.original,
            "timestamp": parse_cdx_timestamp(rec.timestamp),
            "urlkey": rec.urlkey,
            "mimetype": rec.mime_type,
            "statuscode": rec.status_code,
            "digest": rec.digest,
            "length": rec.length,
            "response": response,
            # year/month from the raw 14-char timestamp string
            # (src/internet_archive.cpp:663-678)
            "year": _int_prefix(rec.timestamp, 0, 4),
            "month": _int_prefix(rec.timestamp, 4, 6),
        }


class WaybackMachineDataSource(CdxDataSource):
    reader_cls = WaybackReader

    @classmethod
    def name(cls) -> str:
        return "wayback_machine"

    def simpleStreamReader(self, schema: StructType) -> "WaybackStreamReader":
        """Streaming surface: poll for snapshots archived after the current
        timestamp watermark (see WaybackStreamReader)."""
        return WaybackStreamReader(schema, dict(self.options))


class WaybackStreamReader(SimpleDataSourceStreamReader):
    """Incremental Wayback polling: offset = {"from_ts": "YYYYMMDDhhmmss"},
    each micro-batch fetches snapshots archived strictly AFTER the offset
    (CDX ``&from=`` is inclusive, so boundary records are filtered out) and
    advances the offset to the newest timestamp seen. ``readBetweenOffsets``
    re-queries the closed interval with ``&from=``/``&to=`` — the CDX index
    for past time ranges is append-stable, so replay is exact.

    Options mirror the batch reader; ``stream_from`` sets the initial
    watermark (default 19960101000000, the web archive's epoch)."""

    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.options = options
        if not options.get("url"):
            raise ValueError("wayback_machine stream requires a URL filter: .option('url', ...)")
        self.ts_index = [f.name for f in schema.fields].index("timestamp")

    def initialOffset(self) -> dict:
        return {"from_ts": self.options.get("stream_from", "19960101000000")}

    def _fetch(self, from_ts: str, to_ts: str | None) -> list:
        opts = dict(self.options)
        opts["from"] = from_ts
        if to_ts:
            opts["to"] = to_ts
        lower = parse_cdx_timestamp(from_ts)
        return [
            r
            for r in drain(WaybackReader(self.schema_, opts))
            if r[self.ts_index] is not None and r[self.ts_index] > lower
        ]

    def read(self, start: dict):
        rows = self._fetch(start["from_ts"], None)
        if rows:
            newest = max(r[self.ts_index] for r in rows)
            end = {"from_ts": newest.strftime("%Y%m%d%H%M%S")}
        else:
            end = dict(start)
        return rows, end

    def readBetweenOffsets(self, start: dict, end: dict):
        if end.get("from_ts") == start.get("from_ts"):
            return []
        upper = parse_cdx_timestamp(end["from_ts"])
        return [
            r
            for r in self._fetch(start["from_ts"], end["from_ts"])
            if r[self.ts_index] <= upper
        ]
