"""Convenience reader API: the reference's LIMIT/DISTINCT-ON rewrites as an
explicit wrapper (SURVEY §4.1 option b).

The reference's optimizer hooks rewrite plan nodes the Python DataSource API
cannot see:

- LIMIT n  → deletes the plan's LIMIT and divides n across the crawl
  fan-out as the CDX ``&limit=`` parameter
  (/root/reference src/common_crawl_index.cpp:1474-1526, division at
  :1510-1513; src/internet_archive.cpp:1415-1475).
- DISTINCT ON (expr) → Wayback ``collapse=`` parameter
  (/root/reference src/internet_archive.cpp:1484-1893):

      DISTINCT ON (urlkey)               → collapse=urlkey
      DISTINCT ON (substr(urlkey, 1, N)) → collapse=urlkey:N
      DISTINCT ON (substr(timestamp,1,N))→ collapse=timestamp:N  (e.g. 4 → one
                                           capture per year, 6 → per month)

Spark's ``pushFilters`` receives only filters — a bare ``.limit(n)`` or
``.dropDuplicates()`` stays in the Spark plan and the reader over-fetches its
default ``max_results``. These wrappers close that usability gap: ``limit=``
sets the remote fetch cap (divided per crawl exactly like the reference) AND
applies the Spark-side limit; ``collapse=`` forwards the server-side dedup.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from duckdb_cloudflare_spark.session import register_sources

# DuckDB column → CDX collapse field (src/internet_archive.cpp:1489-1491).
_COLLAPSE_COLUMNS = {
    "digest": "digest",
    "timestamp": "timestamp",
    "length": "length",
    "statuscode": "statuscode",
    "urlkey": "urlkey",
    "url": "original",
    "mimetype": "mimetype",
}

_BARE_COL = re.compile(r"^\s*([A-Za-z_]\w*)\s*$")
# substr(col, 1, N) / substring(col, 1, N) — prefix only when start == 1
_SUBSTR = re.compile(
    r"^\s*substr(?:ing)?\s*\(\s*([A-Za-z_]\w*)\s*,\s*(\d+)\s*,\s*(\d+)\s*\)\s*$",
    re.IGNORECASE,
)
# col[:N] / col[1:N] slice syntax (array_slice in the reference's binder)
_SLICE = re.compile(r"^\s*([A-Za-z_]\w*)\s*\[\s*(1)?\s*:\s*(\d+)\s*\]\s*$")


def distinct_on_to_collapse(*exprs: str) -> str | None:
    """Map DuckDB ``DISTINCT ON(...)`` expressions to the Wayback
    ``collapse=`` option value, mirroring the reference's expression
    analysis (src/internet_archive.cpp:1561-1893):

    - bare collapsible column → ``collapse=<field>`` (``url`` maps to
      ``original``)
    - ``substr(col, 1, N)`` / ``substring(col, 1, N)`` / ``col[:N]`` /
      ``col[1:N]`` → prefix collapse ``<field>:N``
    - derived columns: ``year`` → ``timestamp:4``; ``year, month`` →
      ``timestamp:6``; ``month`` alone raises ValueError (the reference
      throws a BinderException — month without year is ambiguous,
      src/internet_archive.cpp:1773-1777)

    Returns a ';;'-joined string for ``read_wayback(collapse=...)`` /
    the reader's repeatable ``collapse`` option, or None when any
    expression is not collapse-expressible — the reference then abandons
    the pushdown and leaves DISTINCT in the plan; callers should likewise
    fall back to ``dropDuplicates``/window-rank dedup.
    """
    targets: list[tuple[str, int]] = []
    for expr in exprs:
        m = _BARE_COL.match(expr)
        if m:
            targets.append((m.group(1).lower(), 0))
            continue
        m = _SUBSTR.match(expr)
        if m and m.group(2) == "1" and int(m.group(3)) > 0:
            targets.append((m.group(1).lower(), int(m.group(3))))
            continue
        m = _SLICE.match(expr)
        if m and int(m.group(3)) > 0:
            targets.append((m.group(1).lower(), int(m.group(3))))
            continue
        return None  # not analyzable → pushdown abandoned (reference parity)

    names = {t[0] for t in targets}
    has_year, has_month = "year" in names, "month" in names
    if has_month and not has_year:
        raise ValueError(
            "DISTINCT ON(month) is not supported for wayback_machine(). "
            "Use DISTINCT ON(year, month) or DISTINCT ON(year) instead."
        )
    result: list[str] = []
    if has_year and has_month:
        result.append("timestamp:6")
    elif has_year:
        result.append("timestamp:4")
    for name, prefix in targets:
        if name in ("year", "month"):
            continue
        field = _COLLAPSE_COLUMNS.get(name)
        if field is None:
            return None  # non-collapsible column → keep DISTINCT in plan
        result.append(f"{field}:{prefix}" if prefix else field)
    return ";;".join(result) if result else None


def _scan(spark: SparkSession, source: str, url: str, limit: int | None,
          regex_filter: str | None, options: dict) -> DataFrame:
    """One reader call: ``limit`` is the CDX fetch cap (``max_results``) and
    the Spark-side ``.limit``; ``regex_filter`` is appended to the ';;'-joined
    ``filter`` option; other options pass through as strings (booleans
    lowercased, None and False left unset)."""
    register_sources(spark)
    if regex_filter:
        options["filter"] = ";;".join(filter(None, [options.get("filter"), regex_filter]))
    if limit is not None:
        options.setdefault("max_results", int(limit))
    r = spark.read.format(source).option("url", url)
    for k, v in options.items():
        if v is not None and v is not False:
            r = r.option(k, "true" if v is True else str(v))
    df = r.load()
    return df if limit is None else df.limit(int(limit))


def read_common_crawl(
    spark: SparkSession,
    url: str,
    *,
    limit: int | None = None,
    crawl_id: str | None = None,
    fetch_response: bool = False,
    url_regex: str | None = None,
    **options: str,
) -> DataFrame:
    """``common_crawl`` scan with reference LIMIT semantics: ``limit=n`` is
    divided across the resolved crawls as the CDX fetch cap with CEILING
    division (one crawl gets ``ceil(n / n_crawls)``, min 1 —
    src/common_crawl_index.cpp:1510-1513, ``(limit + n - 1) / n``) and the
    exact ``n`` is enforced Spark-side by ``.limit(n)``. ``url_regex`` adds the reference's
    SIMILAR-TO pushdown (``~url:^regex$``, anchors added when missing —
    src/common_crawl_index.cpp:1163-1197); regexes never reach Spark's
    ``pushFilters``, so the named parameter is the only route. Extra
    ``options`` pass through to the reader (filter, from, to, debug,
    dry_run, timeout, ...)."""
    rx = None
    if url_regex:
        rx = "~url:" + ("" if url_regex.startswith("^") else "^") + url_regex
        rx += "" if url_regex.endswith("$") else "$"
    return _scan(spark, "common_crawl", url, limit, rx,
                 dict(options, crawl_id=crawl_id, fetch_response=fetch_response))


def read_wayback(
    spark: SparkSession,
    url: str,
    *,
    limit: int | None = None,
    offset: int | None = None,
    collapse: str | None = None,
    distinct_on: tuple[str, ...] | list[str] | None = None,
    fast_latest: bool = False,
    fetch_response: bool = False,
    urlkey_regex: str | None = None,
    **options: str,
) -> DataFrame:
    """``wayback_machine`` scan with the reference's named-parameter surface:
    ``limit=n`` sets the CDX fetch cap and the Spark-side limit; ``collapse``
    takes the DISTINCT-ON mapping from the module docstring (repeatable via
    ';;'); ``distinct_on`` accepts the DuckDB DISTINCT ON expressions
    directly and maps them via ``distinct_on_to_collapse`` (raising on
    expressions the reference cannot push, so silent over-fetch never
    masquerades as server-side dedup); ``fast_latest`` requests newest-first
    server ordering (negative CDX limit, src/internet_archive.cpp:1415-1475);
    ``urlkey_regex`` adds the reference's SIMILAR-TO pushdown as a
    ``urlkey:regex`` server filter (src/internet_archive.cpp:987-1005 —
    regexes never reach Spark's ``pushFilters``)."""
    if distinct_on:
        mapped = distinct_on_to_collapse(*distinct_on)
        if mapped is None:
            raise ValueError(
                f"DISTINCT ON {tuple(distinct_on)} is not collapse-expressible; "
                "use dropDuplicates/window-rank dedup Spark-side instead"
            )
        collapse = f"{collapse};;{mapped}" if collapse else mapped
    return _scan(
        spark, "wayback_machine", url, limit,
        urlkey_regex and f"urlkey:{urlkey_regex}",
        dict(options, offset=offset, collapse=collapse or None,
             fast_latest=fast_latest, fetch_response=fetch_response),
    )
