"""CDX index clients: URL builders + response parsers for Common Crawl and
the Internet Archive Wayback Machine.

URL-building parity (citations into /root/reference):
- Common Crawl URL assembly   ← src/common_crawl_index.cpp:65-115
  (field-name mapping mimetype→mime / statuscode→status at :73-80,
   &fl= list :82-93, &limit= :96-99, &from=/&to= :101-111, &filter= :113-115)
- Wayback URL assembly        ← BuildArchiveOrgCDXUrl src/internet_archive.cpp:82-142
  (ordered field list :86-99, &output=csv :101-104, &matchType= :106-109,
   &from/&to :111-117, fastLatest/limit :119-124, &offset= :126-129,
   &filter= :131-134, &collapse= :136-139)

Parsing parity:
- CC ND-JSON rows             ← src/common_crawl_index.cpp:152-191
- Wayback space-delimited CSV ← src/internet_archive.cpp:210-256

The scan core both DataSources share is at the end of the module: output
schemas, option flags, the dry-run/CDX-fetch/parse/project ``read()``
skeleton (``CdxReader``), the in-order fetch window and the drain.
"""

from __future__ import annotations

import sys
import time
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from itertools import islice
from typing import Callable, Iterable, Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, Filter
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from duckdb_cloudflare_spark.sources.options import validate_options
from duckdb_cloudflare_spark.sources.pushdown import CdxQuerySpec
from duckdb_cloudflare_spark.util.http import DEFAULT_TIMEOUT_SECONDS
from duckdb_cloudflare_spark.util.text import extract_json_value, sanitize_utf8

CC_INDEX_BASE = "https://index.commoncrawl.org"
CC_DATA_BASE = "https://data.commoncrawl.org"
WAYBACK_CDX_BASE = "https://web.archive.org/cdx/search/cdx"
WAYBACK_WEB_BASE = "https://web.archive.org/web"

# Wayback CDX field order is significant: the CSV response follows &fl= order.
WAYBACK_ORDERED_FIELDS = (
    "urlkey",
    "timestamp",
    "original",
    "mimetype",
    "statuscode",
    "digest",
    "length",
)


def cc_field_name(col_name: str) -> str:
    """DuckDB column name → CC CDX API field name."""
    return {"mimetype": "mime", "statuscode": "status"}.get(col_name, col_name)


def build_cc_cdx_url(
    index_name: str,
    url_pattern: str,
    fields_needed: list[str],
    cdx_filters: list[str] | None = None,
    max_results: int = 100,
    from_ts: str = "",
    to_ts: str = "",
) -> str:
    """Common Crawl CDX query URL. ``from_ts``/``to_ts`` are already-CDX-form
    timestamps (ToCdxTimestamp output)."""
    field_list = ",".join(cc_field_name(f) for f in fields_needed)
    url = (
        f"{CC_INDEX_BASE}/{index_name}-index?url={url_pattern}"
        f"&output=json&fl={field_list}&limit={max_results}"
    )
    if from_ts:
        url += f"&from={from_ts}"
    if to_ts:
        url += f"&to={to_ts}"
    for filt in cdx_filters or []:
        url += f"&filter={filt}"
    return url


def build_wayback_cdx_url(
    url_pattern: str,
    match_type: str = "exact",
    fields_needed: list[str] | None = None,
    cdx_filters: list[str] | None = None,
    from_date: str = "",
    to_date: str = "",
    max_results: int = 100,
    collapses: list[str] | None = None,
    fast_latest: bool = False,
    offset: int = 0,
) -> str:
    """Wayback Machine CDX query URL (CSV output, ordered &fl= list)."""
    needed = set(fields_needed or [])
    field_list = ",".join(f for f in WAYBACK_ORDERED_FIELDS if f in needed)
    url = f"{WAYBACK_CDX_BASE}?url={url_pattern}&output=csv"
    if field_list:
        url += f"&fl={field_list}"
    if match_type != "exact":
        url += f"&matchType={match_type}"
    if from_date:
        url += f"&from={from_date}"
    if to_date:
        url += f"&to={to_date}"
    if fast_latest:
        url += f"&fastLatest=true&limit=-{max_results}"
    else:
        url += f"&limit={max_results}"
    if offset > 0:
        url += f"&offset={offset}"
    for filt in cdx_filters or []:
        url += f"&filter={filt}"
    for collapse in collapses or []:
        url += f"&collapse={collapse}"
    return url


def build_warc_url(filename: str) -> str:
    return f"{CC_DATA_BASE}/{filename}"


def build_wayback_page_url(timestamp: str, original: str) -> str:
    """Raw-content fetch URL (id_ suffix) — src/internet_archive.cpp:281."""
    return f"{WAYBACK_WEB_BASE}/{timestamp}id_/{original}"


@dataclass
class CDXRecord:
    url: str = ""
    timestamp: str = ""
    mime_type: str = ""
    status_code: int = 0
    digest: str = ""
    filename: str = ""
    offset: int = 0
    length: int = 0
    crawl_id: str = ""


def parse_cc_ndjson(response_data: bytes | str, index_name: str, need_warc_fields: bool) -> list[CDXRecord]:
    """Parse CC CDX ND-JSON: skip non-'{' lines and rows without url; empty
    status → 0; offset/length parsed only when WARC fields are needed."""
    text = sanitize_utf8(response_data) if isinstance(response_data, bytes) else response_data
    records: list[CDXRecord] = []
    for line in text.splitlines():
        if not line or line[0] != "{":
            continue
        url = extract_json_value(line, "url")
        if not url:
            continue
        rec = CDXRecord(
            url=url,
            timestamp=extract_json_value(line, "timestamp"),
            mime_type=extract_json_value(line, "mime"),
            digest=extract_json_value(line, "digest"),
            crawl_id=index_name,
        )
        status_str = extract_json_value(line, "status")
        rec.status_code = int(status_str) if status_str.lstrip("-").isdigit() else 0
        if need_warc_fields:
            rec.filename = extract_json_value(line, "filename")
            offset_str = extract_json_value(line, "offset")
            length_str = extract_json_value(line, "length")
            rec.offset = int(offset_str) if offset_str.lstrip("-").isdigit() else 0
            rec.length = int(length_str) if length_str.lstrip("-").isdigit() else 0
        records.append(rec)
    return records


@dataclass
class ArchiveOrgRecord:
    urlkey: str = ""
    timestamp: str = ""
    original: str = ""
    mime_type: str = ""
    status_code: int = 0
    digest: str = ""
    length: int = 0


def parse_wayback_csv(
    response_data: bytes | str, fields_needed: list[str]
) -> list[ArchiveOrgRecord]:
    """Parse space-delimited Wayback CDX CSV. Fields arrive in
    WAYBACK_ORDERED_FIELDS order filtered to the requested set; '-' and empty
    numerics → 0; short lines skipped."""
    text = sanitize_utf8(response_data) if isinstance(response_data, bytes) else response_data
    needed = set(fields_needed)
    in_order = [f for f in WAYBACK_ORDERED_FIELDS if f in needed]
    records: list[ArchiveOrgRecord] = []
    for line in text.splitlines():
        values = line.split()
        if not values or len(values) < len(in_order):
            continue
        rec = ArchiveOrgRecord()
        for fname, val in zip(in_order, values):
            if fname == "urlkey":
                rec.urlkey = val
            elif fname == "timestamp":
                rec.timestamp = val
            elif fname == "original":
                rec.original = val
            elif fname == "mimetype":
                rec.mime_type = val
            elif fname == "statuscode":
                rec.status_code = 0 if val in ("", "-") else int(val) if val.lstrip("-").isdigit() else 0
            elif fname == "digest":
                rec.digest = val
            elif fname == "length":
                rec.length = 0 if val in ("", "-") else int(val) if val.lstrip("-").isdigit() else 0
        records.append(rec)
    return records


# ---------------------------------------------------------------------------
# Scan core shared by the common_crawl and wayback_machine DataSources
# ---------------------------------------------------------------------------

DEFAULT_MAX_RESULTS = 100  # src/common_crawl_index.cpp:38-43
FETCH_CONCURRENCY = 8  # bounded per-partition fan-out (respect the archive)


def _struct(**fields) -> StructType:
    return StructType([StructField(name, dt) for name, dt in fields.items()])


_STR, _STR_MAP = StringType(), MapType(StringType(), StringType())

# Output schemas: CommonCrawlBind (src/common_crawl_index.cpp:344-397) and the
# wayback bind with its computed year/month (src/internet_archive.cpp:434-440).
# Built programmatically because UDTF ``analyze`` runs without a session;
# ``DataSource.schema()`` returns their ``simpleString()``.
CC_SCHEMA = _struct(
    url=_STR, timestamp=TimestampType(), mimetype=_STR, statuscode=IntegerType(),
    digest=_STR, filename=_STR, offset=LongType(), length=LongType(), crawl_id=_STR,
    warc=_struct(version=_STR, headers=_STR_MAP),
    response=_struct(body=BinaryType(), headers=_STR_MAP, http_version=_STR, error=_STR),
)
WAYBACK_SCHEMA = _struct(
    url=_STR, timestamp=TimestampType(), urlkey=_STR, mimetype=_STR,
    statuscode=IntegerType(), digest=_STR, length=LongType(),
    response=_struct(body=BinaryType(), error=_STR),
    year=IntegerType(), month=IntegerType(),
)


def truthy(v) -> bool:
    return str(v).lower() in ("true", "1", "yes")


def with_debug(schema: StructType, options) -> StructType:
    """``schema`` plus the ``cdx_url`` column when the ``debug`` option is set."""
    if truthy(options.get("debug")):
        return StructType(schema.fields + [StructField("cdx_url", _STR)])
    return schema


def fetch_in_order(records: Iterable, fetch: Callable) -> Iterator[tuple]:
    """``(record, fetch(record))`` for every record, in input order, each as
    soon as its own fetch resolves (SURVEY §4.2: stream rows per partition,
    don't materialize). FETCH_CONCURRENCY threads keep at most
    2×FETCH_CONCURRENCY fetches in flight, so the first row reaches Spark
    while later fetches are in the air and memory holds a window of
    responses, not the partition. Closing the generator early cancels the
    fetches not yet started."""
    it = iter(records)
    pool = ThreadPoolExecutor(max_workers=FETCH_CONCURRENCY)
    try:
        pending = deque(
            (rec, pool.submit(fetch, rec)) for rec in islice(it, 2 * FETCH_CONCURRENCY)
        )
        while pending:
            rec, fut = pending.popleft()
            resp = fut.result()
            for nxt in islice(it, 1):  # top up before yielding: keep the pool busy
                pending.append((nxt, pool.submit(fetch, nxt)))
            yield rec, resp
    finally:
        pool.shutdown(cancel_futures=True)


def drain(reader: DataSourceReader) -> Iterator[tuple]:
    """Every row of every planned partition, in order: a whole scan in one
    task (the table functions and the Wayback stream read this way)."""
    for partition in reader.partitions():
        yield from reader.read(partition)


class CdxReader(DataSourceReader):
    """One CDX scan: options → query spec and flags, filter pushdown, and a
    ``read()`` that emits the dry-run row or fetches the CDX page with
    retry, parses it, optionally fetches each record's content through
    ``fetch_in_order`` and projects rows by field name.

    A subclass names its ``source``, ``allowed_options``, ``base_schema``,
    ``api`` (for errors) and ``translate`` (its pushdown catalogue), plans
    ``partitions()``, and supplies ``cdx_url(partition)``,
    ``parse(body, partition)``, ``fetch(transport, record, start)`` and
    ``row(record, response)``.

    ``make_transport`` and ``fetch_with_retry`` are looked up in the
    subclass's module when a partition is read, so a patched global of that
    module (tests, perfbench's traced drive) intercepts the CDX request too.
    """

    source: str
    allowed_options: set[str]
    base_schema: StructType
    api: str
    translate: Callable[[Filter, CdxQuerySpec], str | None]

    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.options = options
        self.spec = CdxQuerySpec(
            url_pattern=options.get("url", ""),
            match_type=options.get("match_type", "exact"),
            crawl_ids=[c for c in options.get("crawl_id", "").split(",") if c],
            cdx_filters=[f for f in options.get("filter", "").split(";;") if f],
            from_ts=options.get("from", ""),
            to_ts=options.get("to", ""),
        )
        self.dry_run = truthy(options.get("dry_run"))
        self.fetch_response = truthy(options.get("fetch_response"))
        self.max_results = int(options.get("max_results", DEFAULT_MAX_RESULTS))
        self.timeout_seconds = int(options.get("timeout", DEFAULT_TIMEOUT_SECONDS))

    @classmethod
    def scan_schema(cls, options, source: str | None = None) -> StructType:
        """The output schema for ``options``; unknown options are a
        bind-time error, as in the reference
        (test/sql/common_crawl_errors.test:7-31)."""
        validate_options(source or cls.source, dict(options), cls.allowed_options)
        return with_debug(cls.base_schema, options)

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            # Absorbed filters leave the plan (reference
            # src/common_crawl_index.cpp:1456-1459); weaker or
            # untranslated ones stay residual (pushdown.py).
            if self.translate(f, self.spec) != "absorbed":
                yield f

    def require_url(self) -> None:
        if not self.spec.url_pattern:
            raise ValueError(
                f"{self.source} requires a URL filter. Use .option('url', ...) "
                "or WHERE url = / startswith / endswith / contains"
            )

    def read(self, partition) -> Iterator[tuple]:
        fields = self.schema_.fieldNames()
        cdx_url = self.cdx_url(partition)
        if self.dry_run:
            yield tuple(cdx_url if name == "cdx_url" else None for name in fields)
            return

        io = sys.modules[type(self).__module__]
        transport = io.make_transport(self.options)
        start = time.monotonic()
        result = io.fetch_with_retry(
            transport, cdx_url, start_time=start, timeout_seconds=self.timeout_seconds
        )
        if result.error:
            raise IOError(f"Error querying {self.api}: {result.error}")
        records = self.parse(result.body, partition)
        if self.fetch_response:
            fetched = fetch_in_order(records, lambda rec: self.fetch(transport, rec, start))
        else:
            fetched = ((rec, None) for rec in records)
        for rec, response in fetched:
            row = self.row(rec, response)
            row["cdx_url"] = cdx_url
            yield tuple(row.get(name) for name in fields)


class CdxDataSource(DataSource):
    """A CDX DataSource is its reader class: schema and reader both come
    from ``reader_cls``."""

    reader_cls: type[CdxReader]

    def schema(self) -> str:
        return self.reader_cls.scan_schema(self.options).simpleString()

    def reader(self, schema: StructType) -> CdxReader:
        return self.reader_cls(schema, dict(self.options))
