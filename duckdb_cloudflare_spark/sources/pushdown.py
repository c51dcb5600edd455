"""Spark DSv2 Python filter → CDX query-parameter translation.

Mirrors the reference's pushdown_complex_filter catalogues
(/root/reference src/common_crawl_index.cpp:889-1460 for Common Crawl,
src/internet_archive.cpp:806-1318 for Wayback; filter syntax:
CC  "=status:N" / "!status:N" / "~status:(a|b)" / "~url:re" / "!~url:re",
IA  "statuscode:N" / "!statuscode:N" / "statuscode:(a|b)" / "urlkey:re").

Python DataSource filters cover equality, ranges, IN, prefix/suffix/contains,
NOT, IS [NOT] NULL — LIKE with interior wildcards and regexes never reach
``pushFilters`` and are covered by explicit reader options instead (the
reference's named-parameter escape hatch, SURVEY §4.1).

Translation POLICY (mirrors the reference's absorbed-filter removal,
src/common_crawl_index.cpp:1456-1459, vs kept-when-weaker,
src/common_crawl_index.cpp:1333,1384):

- EXACT translations are ABSORBED — removed from the Spark plan, the remote
  API is authoritative: statuscode/mimetype equality, negation, IN; url
  pattern shapes; crawl_id selection; Wayback urlkey regexes, year bounds,
  and inclusive timestamp bounds (trailing-zero stripping is lossless).
- WEAKER translations are KEPT in the plan and Spark re-applies them:
  CC timestamp ranges (they only choose the crawl set / coarse from-to) and
  strict (>, <) Wayback timestamp comparisons (CDX from/to are inclusive).

A filter never overwrites what an option or an earlier filter already set
(``url_pattern``, ``match_type``, ``crawl_ids``, ``from_ts``, ``to_ts``):
the request would then drop a predicate that was never sent, so such a
filter stays untranslated and Spark applies it.

``translate_*_filter`` returns "absorbed", "kept", or None (untranslated —
always kept). Absorption also makes the reference's debug/dry-run golden-URL
technique work: the synthetic row is not re-filtered away by predicates the
remote already enforced.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.datasource import (
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

# CDX scalar columns are ALWAYS non-null in parsed output (missing fields
# default to 0 / "" — parse_cc_ndjson / parse_wayback_csv), so the
# IsNotNull predicates Spark derives from equality filters are trivially
# true for every remote row and can be absorbed with the equality itself.
_CC_NONNULL_COLS = frozenset(
    {"url", "timestamp", "mimetype", "statuscode", "digest", "filename",
     "offset", "length", "crawl_id"}
)
_WB_NONNULL_COLS = frozenset(
    {"url", "timestamp", "urlkey", "mimetype", "statuscode", "digest",
     "length", "year", "month"}
)

from duckdb_cloudflare_spark.util.text import escape_cdx_regex, to_cdx_timestamp


def _attr(f) -> str | None:
    a = getattr(f, "attribute", None)
    if a and len(a) == 1:
        return a[0]
    return None


def _ts_str(v) -> str:
    if isinstance(v, datetime):
        return to_cdx_timestamp(v.strftime("%Y%m%d%H%M%S"))
    return to_cdx_timestamp(str(v))


@dataclass
class CdxQuerySpec:
    """Accumulated remote-query parameters from pushed filters."""

    url_pattern: str = ""
    match_type: str = "exact"  # wayback only
    crawl_ids: list[str] = field(default_factory=list)  # cc only
    cdx_filters: list[str] = field(default_factory=list)
    from_ts: str = ""
    to_ts: str = ""


_UNSET = CdxQuerySpec()


def _set(spec: CdxQuerySpec, outcome: str, **values) -> str | None:
    """Set these spec fields and return ``outcome`` — unless one of them
    already holds another value (from an option or an earlier filter):
    then change nothing and return None, so the filter stays residual."""
    if any(getattr(spec, k) not in (getattr(_UNSET, k), v) for k, v in values.items()):
        return None
    for k, v in values.items():
        setattr(spec, k, v)
    return outcome


def translate_cc_filter(f: Filter, spec: CdxQuerySpec) -> str | None:
    """Apply one filter to the CC spec. Returns "absorbed" (remove from
    plan), "kept" (contributed but Spark re-applies), or None."""
    col = _attr(f)
    if isinstance(f, IsNotNull):
        return "absorbed" if col in _CC_NONNULL_COLS else None
    if isinstance(f, Not):
        inner = f.child
        icol = _attr(inner)
        if isinstance(inner, EqualTo):
            if icol == "statuscode":
                spec.cdx_filters.append(f"!status:{inner.value}")
                return "absorbed"
            if icol == "mimetype":
                spec.cdx_filters.append(f"!mime:{inner.value}")
                return "absorbed"
        if icol == "url":
            # url NOT LIKE 'p%' / '%p' / '%p%' reaches pushFilters as
            # Not(StringStartsWith/EndsWith/Contains) → negated anchored
            # regex "!~url:^...$" (src/common_crawl_index.cpp:1210-1250
            # NOT-prefix / NOT-LIKE via SqlRegexToRegex :789 — both anchors).
            v = escape_cdx_regex(str(inner.value))
            if isinstance(inner, StringStartsWith):
                spec.cdx_filters.append(f"!~url:^{v}.*$")
                return "absorbed"
            if isinstance(inner, StringEndsWith):
                spec.cdx_filters.append(f"!~url:^.*{v}$")
                return "absorbed"
            if isinstance(inner, StringContains):
                spec.cdx_filters.append(f"!~url:^.*{v}.*$")
                return "absorbed"
        return None
    if isinstance(f, EqualTo):
        if col == "url":
            return _set(spec, "absorbed", url_pattern=str(f.value))
        if col == "crawl_id":
            return _set(spec, "absorbed", crawl_ids=[str(f.value)])
        if col == "statuscode":
            spec.cdx_filters.append(f"=status:{f.value}")
            return "absorbed"
        if col == "mimetype":
            spec.cdx_filters.append(f"=mime:{f.value}")
            return "absorbed"
        return None
    if isinstance(f, In):
        vals = [str(v) for v in f.value]
        if col == "crawl_id":
            return _set(spec, "absorbed", crawl_ids=vals)
        if col == "statuscode":
            # ~field:regex form — values are embedded in a regex alternation,
            # so escape metachars (EscapeRegex, internet_archive.cpp:723).
            spec.cdx_filters.append(
                "~status:(" + "|".join(escape_cdx_regex(v) for v in vals) + ")"
            )
            return "absorbed"
        if col == "mimetype":
            spec.cdx_filters.append(
                "~mime:(" + "|".join(escape_cdx_regex(v) for v in vals) + ")"
            )
            return "absorbed"
        return None
    if col == "url":
        if isinstance(f, StringStartsWith):
            return _set(spec, "absorbed", url_pattern=f"{f.value}*")
        if isinstance(f, StringEndsWith):
            return _set(spec, "absorbed", url_pattern=f"*{f.value}")
        if isinstance(f, StringContains):
            return _set(spec, "absorbed", url_pattern=f"*{f.value}*")
    if col == "timestamp":
        # CC timestamps select the crawl set + coarse from/to: WEAKER than
        # the predicate — keep it in the plan (reference :1333,1384).
        if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            return _set(spec, "kept", from_ts=_ts_str(f.value))
        if isinstance(f, (LessThan, LessThanOrEqual)):
            return _set(spec, "kept", to_ts=_ts_str(f.value))
    return None


def translate_wayback_filter(f: Filter, spec: CdxQuerySpec) -> str | None:
    """Apply one filter to the Wayback spec (filter=col:regex catalogue).
    Returns "absorbed" / "kept" / None (see module docstring)."""
    col = _attr(f)
    if isinstance(f, IsNotNull):
        return "absorbed" if col in _WB_NONNULL_COLS else None
    if isinstance(f, Not):
        inner = f.child
        icol = _attr(inner)
        if isinstance(inner, EqualTo) and icol in ("statuscode", "mimetype"):
            spec.cdx_filters.append(f"!{icol}:{escape_cdx_regex(str(inner.value))}")
            return "absorbed"
        if icol == "urlkey":
            rx = _string_filter_regex(inner)
            if rx:
                spec.cdx_filters.append(f"!urlkey:{rx}")
                return "absorbed"
        if icol == "url":
            # url NOT LIKE 'p%' / '%p' / '%p%' → filter=!original:regex —
            # the CDX field for the full URL is ``original``
            # (src/internet_archive.cpp:1009-1158; golden shape
            # test/sql/internet_archive_pushdown.test:159-190, e.g.
            # NOT LIKE '%test%' → filter=!original:.*test.*). Interior-
            # wildcard NOT LIKE never reaches pushFilters (SURVEY §4.1) —
            # the ``filter`` reader option is the escape hatch.
            rx = _string_filter_regex(inner)
            if rx:
                spec.cdx_filters.append(f"!original:{rx}")
                return "absorbed"
        return None
    if isinstance(f, EqualTo):
        if col == "url":
            # under a wider match_type option the pattern alone is weaker
            return _set(spec, "absorbed", url_pattern=str(f.value), match_type="exact") or _set(
                spec, "kept", url_pattern=str(f.value)
            )
        if col in ("statuscode", "mimetype"):
            # filter=field:regex is full-match regex — escape literal values
            # (mimetypes like application/vnd.ms-excel contain metachars).
            spec.cdx_filters.append(f"{col}:{escape_cdx_regex(str(f.value))}")
            return "absorbed"
        if col == "year":
            return _set(spec, "absorbed", from_ts=str(f.value), to_ts=str(f.value))
        if col == "urlkey":
            spec.cdx_filters.append(f"urlkey:^{escape_cdx_regex(str(f.value))}$")
            return "absorbed"
        return None
    if isinstance(f, In) and col in ("statuscode", "mimetype"):
        # regex alternation — string values escaped, matching the reference's
        # TryHandleInExpression (internet_archive.cpp:963-1010).
        spec.cdx_filters.append(
            f"{col}:(" + "|".join(escape_cdx_regex(str(v)) for v in f.value) + ")"
        )
        return "absorbed"
    if col == "url":
        if isinstance(f, StringStartsWith):
            return _set(spec, "absorbed", url_pattern=f"{f.value}*")
        if isinstance(f, StringEndsWith):
            # '%.example.com' → url=*.example.com (domain-suffix form,
            # internet_archive_pushdown.test:462-505). The CDX domain form
            # also matches subdomain PATHS — weaker → keep in plan.
            return _set(spec, "kept", url_pattern=f"*{f.value}")
        if isinstance(f, StringContains):
            return _set(spec, "absorbed", url_pattern=f"*{f.value}*")
    if col == "urlkey":
        rx = _string_filter_regex(f)
        if rx:
            spec.cdx_filters.append(f"urlkey:{rx}")
            return "absorbed"
    if col == "timestamp":
        # from/to are INCLUSIVE with lossless trailing-zero stripping:
        # >= / <= are exact (reference removes them,
        # internet_archive.cpp:1181-1199); strict > / < stay in the plan.
        if isinstance(f, GreaterThanOrEqual):
            return _set(spec, "absorbed", from_ts=_ts_str(f.value))
        if isinstance(f, GreaterThan):
            return _set(spec, "kept", from_ts=_ts_str(f.value))
        if isinstance(f, LessThanOrEqual):
            return _set(spec, "absorbed", to_ts=_ts_str(f.value))
        if isinstance(f, LessThan):
            return _set(spec, "kept", to_ts=_ts_str(f.value))
    if col == "year":
        # year > 2020 → from=2021; year < 2024 → to=2023
        # (src/internet_archive.cpp:1274-1311) — year-boundary exact
        if isinstance(f, GreaterThan):
            return _set(spec, "absorbed", from_ts=str(int(f.value) + 1))
        if isinstance(f, GreaterThanOrEqual):
            return _set(spec, "absorbed", from_ts=str(int(f.value)))
        if isinstance(f, LessThan):
            return _set(spec, "absorbed", to_ts=str(int(f.value) - 1))
        if isinstance(f, LessThanOrEqual):
            return _set(spec, "absorbed", to_ts=str(int(f.value)))
    return None


def _string_filter_regex(f: Filter) -> str | None:
    """prefix/suffix/contains → the regex LikeToRegex would produce for the
    equivalent LIKE pattern (src/internet_archive.cpp:849-1005).

    Values are metachar-escaped in all three shapes. The reference escapes
    contains (:963) but NOT prefix (:944 — "^" + prefix_val + ".*" raw while
    still removing the plan filter); since these translations are ABSORBED,
    an unescaped '.'/'+' would silently widen the result set, so we escape
    everywhere rather than reproduce that bug."""
    if isinstance(f, StringStartsWith):
        return f"^{escape_cdx_regex(str(f.value))}.*"
    if isinstance(f, StringEndsWith):
        return f".*{escape_cdx_regex(str(f.value))}$"
    if isinstance(f, StringContains):
        return f".*{escape_cdx_regex(str(f.value))}.*"
    return None
