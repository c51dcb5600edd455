"""SQL table-function parity: the reference exposes its scans as DuckDB
TABLE FUNCTIONS — ``SELECT * FROM common_crawl_index(url := '...',
max_results := 100)`` (reference src/common_crawl_index.cpp table-function
registration; named-parameter binding at :320-342). This module registers
the same call shape as Spark Python UDTFs, and ``compat.duck_sql`` rewrites
DuckDB's ``:=`` named-argument token to Spark's ``=>`` — so the reference's
query text runs verbatim through ``Engine.sql``.

Scope note (documented, deliberate): the UDTF path executes the whole scan
inside ONE executor task — it is the *call-syntax parity* surface. The
distributed path is the DataSource reader (``spark.read.format(
"common_crawl")``: partition-per-crawl, filter pushdown, streaming
prefetch); ``Engine.read_common_crawl`` wraps it. Both share the SAME
reader implementation (`CommonCrawlReader`/`WaybackReader`), so options,
golden URLs, retry policy, and error contracts are identical by
construction, and the hermetic test transports (``fixture_dir``,
``dry_run``) work unchanged.

``analyze`` runs in a session-less Python process, so the UDTF schemas are
the readers' programmatic ``StructType``s (``sources/cdx.py``), the same
objects the DataSources' ``schema()`` renders.
"""

from __future__ import annotations

import dataclasses as _dc
from dataclasses import field as _field

from pyspark.sql.functions import AnalyzeResult as _AnalyzeResult
from pyspark.sql.types import StringType, StructField, StructType

from duckdb_cloudflare_spark.sources.cdx import CdxReader, drain
from duckdb_cloudflare_spark.sources.common_crawl import CommonCrawlReader
from duckdb_cloudflare_spark.sources.wayback import WaybackReader


def _options_from(kwargs: dict) -> dict:
    """Normalize UDTF argument values to the string options the readers
    expect (booleans lowercased so ``cdx.truthy`` sees 'true'). At analyze
    time the values are AnalyzeArguments: NON-CONSTANT arguments (e.g. a
    lateral column reference) are rejected loudly — silently treating them
    as absent would let analyze and eval disagree on the schema (the
    debug-column hazard)."""
    out = {}
    for k, v in kwargs.items():
        if hasattr(v, "isConstantExpression") and not v.isConstantExpression:
            raise ValueError(
                f"table-function argument {k!r} must be a constant expression "
                "(the reference's named parameters are bind-time literals); "
                "use the DataFrame reader for per-row-driven scans"
            )
        val = getattr(v, "value", v)  # AnalyzeArgument at analyze time
        if val is None:
            continue
        out[k] = str(val).lower() if isinstance(val, bool) else str(val)
    return out


# analyze() → __init__ carriage: the worker passes the (pickled) subclass
# instance to the UDTF constructor, so eval() consumes EXACTLY the options
# and schema analyze validated — bind and execution cannot disagree (the
# column-order / debug-column hazards), and d1's remote schema discovery
# runs once at bind, not again per execution. The subclass is MODULE-level
# so it pickles by reference regardless of serializer.
@_dc.dataclass
class CarryingAnalyzeResult(_AnalyzeResult):
    """AnalyzeResult + an opaque payload dict carried from analyze to eval."""

    payload: dict = _field(default_factory=dict)


def _make_carrying_result(schema, **extra):
    return CarryingAnalyzeResult(schema=schema, payload=extra)


class _CdxScanUDTF:
    """A CDX table function: same named parameters, defaults, bind-time
    unknown-option errors and row contract as its DataSource (they share
    the reader). Each subclass names its reader and SQL name and declares
    the static ``analyze`` PySpark requires."""

    reader_cls: type[CdxReader]
    sql_name: str

    def __init__(self, analyze_result=None):
        self._ar = analyze_result

    @classmethod
    def _analyze(cls, kwargs: dict):
        opts = _options_from(kwargs)
        schema = cls.reader_cls.scan_schema(opts, source=cls.sql_name)
        return _make_carrying_result(schema, options=opts)

    def eval(self, **kwargs):
        opts = self._ar.payload["options"] if self._ar else _options_from(kwargs)
        yield from drain(self.reader_cls(self.reader_cls.scan_schema(opts), opts))


class CommonCrawlIndexUDTF(_CdxScanUDTF):
    """``common_crawl_index(url => ..., crawl_id => ..., ...)``."""

    reader_cls = CommonCrawlReader
    sql_name = "common_crawl_index"

    @staticmethod
    def analyze(**kwargs):
        return CommonCrawlIndexUDTF._analyze(kwargs)


class WaybackMachineUDTF(_CdxScanUDTF):
    """``wayback_machine(url => ..., collapse => ..., ...)`` — the reference's
    Internet Archive table function."""

    reader_cls = WaybackReader
    sql_name = "wayback_machine"

    @staticmethod
    def analyze(**kwargs):
        return WaybackMachineUDTF._analyze(kwargs)


class D1ScanUDTF:
    """``d1_scan(table => ..., ...)`` — typed rows via the shared D1 reader.
    Schema discovery (remote PRAGMA + affinity rules) happens at analyze
    time, mirroring the reference's bind-time schema fetch.

    Credential caveat: ``analyze``/``eval`` run in separate Python
    processes, so the in-process secrets registry is NOT visible — use env
    credentials (CLOUDFLARE_ACCOUNT_ID / CLOUDFLARE_API_TOKEN), explicit
    ``account_id``/``api_token`` arguments, or the test stub options."""

    def __init__(self, analyze_result=None):
        self._ar = analyze_result

    @staticmethod
    def analyze(**kwargs):
        from duckdb_cloudflare_spark.sources.d1 import _client_from_options
        from duckdb_cloudflare_spark.sources.options import (
            D1_OPTIONS,
            validate_options,
        )

        opts = _options_from(kwargs)
        validate_options("d1_scan", opts, D1_OPTIONS)
        table = opts.get("table")
        if not table:
            raise ValueError("d1_scan requires a table => '<name>' argument")
        schema = _client_from_options(opts).table_schema(table)
        return _make_carrying_result(schema, options=opts, struct=schema)

    def eval(self, **kwargs):
        from duckdb_cloudflare_spark.sources.d1 import D1Reader, _client_from_options

        if self._ar:  # schema discovered ONCE at bind (no re-PRAGMA per exec)
            opts, schema = self._ar.payload["options"], self._ar.payload["struct"]
        else:
            opts = _options_from(kwargs)
            schema = _client_from_options(opts).table_schema(opts["table"])
        yield from drain(D1Reader(schema, opts))


class D1QueryUDTF:
    """``d1_query(sql => ...)`` — arbitrary SQL, all-VARCHAR rows with column
    order from the first result row (the reference's degenerate d1_query
    schema, src/d1_functions.cpp:119-131). Like the reference, the query
    runs at BIND time to discover columns (and again at execution).

    READ-ONLY CONTRACT (ADVICE r5): because the statement executes TWICE
    (analyze + eval) — and Spark may re-analyze/replan freely — d1_query is
    for SELECTs only. A side-effecting statement (INSERT/UPDATE/DELETE)
    would apply its effect an unpredictable number of times; route writes
    through ``d1_execute`` / ``CALL d1_execute(...)``, which execute exactly
    once (and batch inside transactions). Same split as the reference:
    its d1_query bind also runs the query (src/d1_functions.cpp:119-131)
    and its docs direct writes to d1_execute."""

    def __init__(self, analyze_result=None):
        self._ar = analyze_result

    @staticmethod
    def analyze(**kwargs):
        from duckdb_cloudflare_spark.sources.d1 import _client_from_options

        opts = _options_from(kwargs)
        sql = opts.pop("sql", None)
        if not sql:
            raise ValueError("d1_query requires a sql => '<statement>' argument")
        rows = _client_from_options(opts).query(sql)
        cols = list(rows[0].keys()) if rows else ["result"]
        return _make_carrying_result(
            StructType([StructField(c, StringType()) for c in cols]),
            options=opts, sql=sql, cols=cols,
        )

    def eval(self, **kwargs):
        from duckdb_cloudflare_spark.sources.d1 import _client_from_options, _plain

        if self._ar:
            opts = self._ar.payload["options"]
            sql = self._ar.payload["sql"]
            cols = self._ar.payload["cols"]
        else:
            opts = _options_from(kwargs)
            sql = opts.pop("sql")
            cols = None
        rows = _client_from_options(opts).query(sql)
        if not rows:
            return
        if cols is None:
            cols = list(rows[0].keys())
        # values keyed by the ANALYZE-TIME column list: a result whose key
        # order (or arity) drifts between bind and execution maps by NAME,
        # never by position — missing keys surface as NULL, extras drop.
        for r in rows:
            yield tuple(
                None if r.get(c) is None else str(_plain(r.get(c))) for c in cols
            )


def register_table_functions(spark) -> None:
    """Register the reference's table-function names on the session
    (idempotent — re-registration replaces)."""
    from pyspark.sql.functions import udtf

    spark.udtf.register("common_crawl_index", udtf(CommonCrawlIndexUDTF))
    spark.udtf.register("wayback_machine", udtf(WaybackMachineUDTF))
    spark.udtf.register("d1_scan", udtf(D1ScanUDTF))
    spark.udtf.register("d1_query", udtf(D1QueryUDTF))
