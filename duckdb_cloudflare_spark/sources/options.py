"""Strict reader-option validation — the reference's named-parameter error
contract (unknown parameters are a bind-time error, not silently ignored:
/root/reference test/sql/common_crawl_errors.test:7-31).

Spark itself injects ``path``/``paths`` when ``.load(path)`` is used; those
are always tolerated.
"""

from __future__ import annotations

_SPARK_INJECTED = {"path", "paths"}

CC_OPTIONS = {
    "url", "crawl_id", "filter", "from", "to", "debug", "dry_run",
    "fetch_response", "max_results", "timeout", "fixture_dir",
    "stream_start_latest",
}

WAYBACK_OPTIONS = {
    "url", "filter", "from", "to", "debug", "dry_run", "fetch_response",
    "max_results", "timeout", "offset", "collapse", "fast_latest",
    "match_type", "page_size", "stream_from", "fixture_dir",
}

D1_OPTIONS = {
    "table", "secret", "account_id", "api_token", "database", "database_id",
    "base_url", "partitions", "limit", "d1_sqlite_stub", "fixture_dir",
}


def validate_options(source: str, options: dict, allowed: set[str]) -> None:
    """Raise ValueError for any option key outside ``allowed`` (mirroring
    the reference's binder error for invalid named parameters)."""
    unknown = sorted(
        k for k in options if k not in allowed and k.lower() not in _SPARK_INJECTED
    )
    if unknown:
        raise ValueError(
            f"{source}: unknown option(s) {unknown}; valid options: "
            f"{sorted(allowed)}"
        )
