"""Common Crawl crawl-catalog service (collinfo.json) with 24 h TTL cache —
parity with /root/reference src/web_archive_utils.cpp:466-601 and the cache
struct at src/include/web_archive_utils.hpp:128-156.

This is the partition catalog for the common_crawl DataSource: crawl ids are
partition values, and a pushed timestamp range prunes partitions via
crawl_ids_for_range (the reference's GetCrawlIdsForTimestampRange)."""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from datetime import datetime

from duckdb_cloudflare_spark.util.http import Transport, UrllibTransport
from duckdb_cloudflare_spark.util.text import parse_iso8601

COLLINFO_URL = "https://index.commoncrawl.org/collinfo.json"
CACHE_TTL_SECONDS = 24 * 3600

_EPOCH = parse_iso8601("")  # 1970-01-01 UTC sentinel


@dataclass
class CrawlInfo:
    id: str
    name: str
    from_ts: datetime
    to_ts: datetime


class CollInfoCatalog:
    """Process-global-cacheable crawl catalog. First entry = latest crawl."""

    def __init__(self, transport: Transport | None = None, url: str = COLLINFO_URL,
                 ttl_seconds: int = CACHE_TTL_SECONDS, clock=time.monotonic):
        self.transport = transport or UrllibTransport()
        self.url = url
        self.ttl = ttl_seconds
        self.clock = clock
        self._crawls: list[CrawlInfo] = []
        self._cached_at: float | None = None

    def _expired(self) -> bool:
        return self._cached_at is None or (self.clock() - self._cached_at) >= self.ttl

    def _fetch(self) -> None:
        raw = self.transport.get(self.url)
        if not raw:
            raise IOError("Failed to fetch collinfo.json: empty response")
        entries = json.loads(raw)
        crawls = [
            CrawlInfo(
                id=e["id"],
                name=e.get("name", ""),
                from_ts=parse_iso8601(e.get("from", "")),
                to_ts=parse_iso8601(e.get("to", "")),
            )
            for e in entries
            if e.get("id")
        ]
        if not crawls:
            raise IOError("collinfo.json parsing failed: no valid entries found")
        self._crawls = crawls
        self._cached_at = self.clock()

    def crawls(self) -> list[CrawlInfo]:
        if self._expired():
            self._fetch()
        return self._crawls

    def latest_crawl_id(self) -> str:
        return self.crawls()[0].id

    def crawl_ids_for_range(self, from_ts: datetime | None, to_ts: datetime | None) -> list[str]:
        """Crawl ids whose [from,to] window overlaps the query range; an
        unset bound (None or epoch) is unbounded — reference overlap logic at
        src/web_archive_utils.cpp:576-596."""
        has_from = from_ts is not None and from_ts != _EPOCH
        has_to = to_ts is not None and to_ts != _EPOCH
        out = []
        for info in self.crawls():
            if has_from and info.to_ts < from_ts:
                continue
            if has_to and info.from_ts > to_ts:
                continue
            out.append(info.id)
        return out

