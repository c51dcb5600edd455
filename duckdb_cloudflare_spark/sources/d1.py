"""Cloudflare D1 (SQLite-over-HTTP) source.

Pure-Python client parity (citations into /root/reference):
- endpoints                  ← src/include/d1_extension.hpp:31-43
  query: POST /accounts/{acct}/d1/database/{db}/query  body {"sql": ...}
  batch: same endpoint, body [{"sql": ...}, ...]       (src/d1_http.cpp:525-547)
  list:  GET  /accounts/{acct}/d1/database             (src/d1_http.cpp:549-604)
- schema discovery           ← PRAGMA table_info + SQLite affinity rules
  (src/d1_http.cpp:669-763): INT→BIGINT, CHAR/CLOB/TEXT→VARCHAR, BLOB/empty→
  BLOB, REAL/FLOA/DOUB→DOUBLE, BOOL→BOOLEAN, DATE→DATE, TIME→TIMESTAMP,
  default VARCHAR
- table listing              ← PRAGMA table_list, internals (_*/sqlite_schema)
  filtered out (src/d1_http.cpp:616-667, filter at :661)
- WHERE re-serialization     ← src/d1_scan.cpp:76-232 ('' escaping, operand
  order normalization, AND conjunctions)
- value coercion             ← src/d1_scan.cpp:258-307 (bool accepts
  "1"/"true"; empty string → NULL round-trip :300-302)

Spark-side: ``d1`` DataSource (spark.read.format("d1")) with pushFilters →
SQLite WHERE translation and a ``limit`` option (Python DataSource API has no
limit-pushdown hook — SURVEY §4.1), mirroring the reference's named-param
escape hatch.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass
from datetime import date, datetime
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
)
from pyspark.sql.types import (
    BooleanType,
    DataType,
    StructField,
    StructType,
)

from duckdb_cloudflare_spark.util.http import Transport, UrllibTransport, make_transport

API_BASE = "https://api.cloudflare.com/client/v4"


@dataclass
class D1Config:
    account_id: str
    api_token: str
    database_id: str = ""
    base_url: str = API_BASE

    @property
    def query_url(self) -> str:
        return f"{self.base_url}/accounts/{self.account_id}/d1/database/{self.database_id}/query"

    @property
    def list_databases_url(self) -> str:
        return f"{self.base_url}/accounts/{self.account_id}/d1/database"


def sqlite_type_to_spark(sqlite_type: str) -> str:
    """SQLite declared type → Spark DDL type via affinity rules."""
    t = sqlite_type.upper()
    if "INT" in t:
        return "bigint"
    if "CHAR" in t or "CLOB" in t or "TEXT" in t:
        return "string"
    if "BLOB" in t or t == "":
        return "binary"
    if "REAL" in t or "FLOA" in t or "DOUB" in t:
        return "double"
    if "BOOL" in t:
        return "boolean"
    if "DATE" in t:
        return "date"
    if "TIME" in t:
        return "timestamp"
    return "string"


def escape_sql_string(s: str) -> str:
    """Single-quote literal with '' escaping (src/d1_scan.cpp:76-89)."""
    return "'" + s.replace("'", "''") + "'"


def quote_ident(name: str) -> str:
    """Double-quote an identifier with "" doubling. The reference interpolates
    table/column names raw (same shape, src/d1_scan.cpp:240-247); quoting is
    strictly safer for names with spaces/quotes and closes the injection
    surface of the user-supplied ``table`` option."""
    return '"' + name.replace('"', '""') + '"'


def sql_literal(v: Any) -> str:
    """Value → SQLite literal, for pushed filters and generated INSERTs:
    None as NULL, bools as 1/0, bytes as X'hex', numbers by ``repr``, any
    other value as its quoted ``str`` (reference escaping, src/d1_scan.cpp:76-89).
    NaN/±Inf have no SQLite literal and become NULL, which is the writer's
    policy; ``filter_to_sql`` never pushes them."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        return repr(v) if math.isfinite(v) else "NULL"
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    return escape_sql_string(str(v))


def _pushable(v: Any) -> bool:
    return not (isinstance(v, float) and not math.isfinite(v))


class D1Error(Exception):
    pass


class D1Client:
    """Driver/executor-side HTTP client. Transport injectable for tests."""

    def __init__(self, config: D1Config, transport: Transport | None = None):
        self.config = config
        self.transport = transport or UrllibTransport()

    # -- raw HTTP ----------------------------------------------------------
    def _headers(self) -> dict[str, str]:
        return {
            "Authorization": f"Bearer {self.config.api_token}",
            "Content-Type": "application/json",
        }

    def _post(self, url: str, body: Any) -> dict:
        raw = self.transport.post(url, json.dumps(body).encode(), headers=self._headers())
        return json.loads(raw)

    # -- API surface -------------------------------------------------------
    def query(self, sql: str, params: list[str] | None = None) -> list[dict[str, Any]]:
        """Execute one SQL statement; return rows as dicts (column order
        preserved by JSON object order)."""
        body: dict[str, Any] = {"sql": sql}
        if params:
            body["params"] = params
        resp = self._post(self.config.query_url, body)
        return self._parse_query_response(resp)

    def execute(self, sql: str) -> int:
        """Execute a statement, return meta.changes (reference d1_execute,
        src/d1_functions.cpp:423-450)."""
        body = {"sql": sql}
        resp = self._post(self.config.query_url, body)
        self._check(resp)
        results = resp.get("result") or []
        if results:
            meta = results[0].get("meta") or {}
            return int(meta.get("changes", 0))
        return 0

    def batch(self, statements: list[str]) -> list[int]:
        """Batch execution: N statements in ONE HTTP request (the reference's
        COMMIT path, src/d1_http.cpp:525-547). Returns per-statement changes."""
        if not statements:
            return []
        resp = self._post(self.config.query_url, [{"sql": s} for s in statements])
        self._check(resp)
        out = []
        for r in resp.get("result") or []:
            if not r.get("success", False):
                raise D1Error(f"Batch statement failed: {r.get('error', 'unknown')}")
            out.append(int((r.get("meta") or {}).get("changes", 0)))
        return out

    def list_databases(self) -> list[dict[str, Any]]:
        raw = self.transport.get(self.config.list_databases_url, headers=self._headers())
        resp = json.loads(raw)
        self._check(resp)
        return resp.get("result") or []

    def list_tables(self) -> list[dict[str, Any]]:
        """PRAGMA table_list with internal tables hidden
        (src/d1_http.cpp:616-667)."""
        rows = self.query("PRAGMA table_list")
        return [
            r
            for r in rows
            if not str(r.get("name", "")).startswith("_")
            and not str(r.get("name", "")).startswith("sqlite_")
        ]

    def table_columns(self, table: str) -> list[tuple[str, str]]:
        """PRAGMA table_info → [(name, sqlite_type), ...]."""
        rows = self.query(f"PRAGMA table_info({quote_ident(table)})")
        return [(str(r["name"]), str(r.get("type", ""))) for r in rows]

    def table_schema(self, table: str) -> StructType:
        fields = [
            StructField(name, _ddl_to_type(sqlite_type_to_spark(t)), True)
            for name, t in self.table_columns(table)
        ]
        if not fields:
            raise D1Error(f"Table '{table}' has no columns (does it exist?)")
        return StructType(fields)

    # -- helpers -----------------------------------------------------------
    @staticmethod
    def _check(resp: dict) -> None:
        if not resp.get("success", False):
            errors = resp.get("errors") or resp.get("error") or "unknown error"
            raise D1Error(f"D1 API error: {errors}")

    @staticmethod
    def _parse_query_response(resp: dict) -> list[dict[str, Any]]:
        D1Client._check(resp)
        results = resp.get("result") or []
        if not results:
            return []
        first = results[0]
        if not first.get("success", False):
            raise D1Error(f"D1 query failed: {first.get('error', 'unknown')}")
        return first.get("results") or []


def _ddl_to_type(ddl: str) -> DataType:
    # No _parse_datatype_string here: the DataSource runs inside Python
    # workers that have no SparkContext.
    from pyspark.sql.types import (
        BinaryType,
        DateType,
        DoubleType,
        LongType,
        StringType,
        TimestampNTZType,
    )

    return {
        "bigint": LongType(),
        "string": StringType(),
        "binary": BinaryType(),
        "double": DoubleType(),
        "boolean": BooleanType(),
        "date": DateType(),
        "timestamp": TimestampNTZType(),
    }[ddl]


def coerce_value(v: Any, dtype: DataType) -> Any:
    """D1 JSON value → typed Python value (src/d1_scan.cpp:258-307).
    Empty string → NULL (the D1 null round-trip); bool accepts 1/"1"/"true"."""
    if v is None or v == "":
        return None
    name = dtype.typeName()
    try:
        if name == "long":
            return int(v)
        if name == "double":
            return float(v)
        if name == "boolean":
            if isinstance(v, bool):
                return v
            s = str(v).lower()
            return s in ("1", "true")
        if name == "date":
            if isinstance(v, date) and not isinstance(v, datetime):
                return v
            return datetime.strptime(str(v)[:10], "%Y-%m-%d").date()
        if name.startswith("timestamp"):
            if isinstance(v, datetime):
                return v
            s = str(v).replace("T", " ")[:26]
            for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
                try:
                    return datetime.strptime(s, fmt)
                except ValueError:
                    continue
            return None
        if name == "binary":
            if isinstance(v, (bytes, bytearray)):
                return bytes(v)
            if isinstance(v, list):
                return bytes(v)
            return str(v).encode()
        return str(v)
    except (ValueError, TypeError):
        return None


# ---------------------------------------------------------------------------
# Filter → SQLite WHERE translation (Spark DSv2 Python filters)
# ---------------------------------------------------------------------------

_SIMPLE_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def filter_to_sql(f: Filter) -> str | None:
    """One Spark filter → SQLite condition string, or None if untranslatable."""
    for cls, op in _SIMPLE_OPS.items():
        if isinstance(f, cls):
            if len(f.attribute) != 1 or not _pushable(f.value):
                return None
            return f"{quote_ident(f.attribute[0])} {op} {sql_literal(f.value)}"
    if isinstance(f, IsNull) and len(f.attribute) == 1:
        return f"{quote_ident(f.attribute[0])} IS NULL"
    if isinstance(f, IsNotNull) and len(f.attribute) == 1:
        return f"{quote_ident(f.attribute[0])} IS NOT NULL"
    if isinstance(f, Not):
        inner = filter_to_sql(f.child)
        return f"NOT ({inner})" if inner else None
    try:  # In is available in pyspark >= 4.1
        from pyspark.sql.datasource import In

        if isinstance(f, In) and len(f.attribute) == 1 and all(map(_pushable, f.value)):
            vals = ", ".join(sql_literal(v) for v in f.value)
            return f"{quote_ident(f.attribute[0])} IN ({vals})"
    except ImportError:
        pass
    return None


def build_select_sql(table: str, where: list[str], limit: int | None) -> str:
    """SELECT assembly — reference shape src/d1_scan.cpp:240-247."""
    sql = f"SELECT * FROM {quote_ident(table)}"
    if where:
        sql += " WHERE " + " AND ".join(where)
    if limit is not None:
        sql += f" LIMIT {limit}"
    return sql


# ---------------------------------------------------------------------------
# DataSource
# ---------------------------------------------------------------------------


def _config_from_options(options: dict) -> D1Config:
    """Resolve connection options (+ secret NAME via the in-process registry)
    to a concrete D1Config. Must run DRIVER-SIDE: the secret registry lives
    in the driver Python process only."""
    from duckdb_cloudflare_spark.catalog.secrets import global_registry

    account_id = options.get("account_id", "")
    api_token = options.get("api_token", "")
    database_id = options.get("database_id") or options.get("database", "")
    if not account_id or not api_token:
        secret = global_registry().get_secret(options.get("secret", ""), type="d1")
        account_id = account_id or secret.get("account_id")
        api_token = api_token or secret.get("api_token")
        database_id = database_id or secret.get("database_id") or secret.get("database")
    return D1Config(
        account_id=account_id,
        api_token=api_token,
        database_id=database_id,
        base_url=options.get("base_url", API_BASE),
    )


def _client_from_options(options: dict) -> D1Client:
    return D1Client(_config_from_options(options), transport=make_transport(options))


class D1DataSource(DataSource):
    """spark.read.format("d1").option("table", t).option(...).load()

    Options: table (required), secret | account_id/api_token, database_id,
    limit, base_url, fixture_dir (tests). Filter pushdown: comparisons,
    IS [NOT] NULL, IN, NOT — re-serialized into the remote SQLite WHERE;
    everything else stays in the Spark plan.
    """

    @classmethod
    def name(cls) -> str:
        return "d1"

    def schema(self) -> StructType:
        from duckdb_cloudflare_spark.sources.options import D1_OPTIONS, validate_options

        validate_options("d1", dict(self.options), D1_OPTIONS)
        table = self.options.get("table")
        if not table:
            raise ValueError("d1 source requires .option('table', <name>)")
        return _client_from_options(dict(self.options)).table_schema(table)

    def reader(self, schema: StructType) -> "D1Reader":
        return D1Reader(schema, dict(self.options))


class D1RangePartition(InputPartition):
    """One rowid range [lo, hi] of a parallel D1 scan."""

    def __init__(self, index: int, lo: int | None = None, hi: int | None = None):
        super().__init__(index)
        self.lo = lo
        self.hi = hi


class D1Reader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.options = options
        self.where: list[str] = []
        # Resolve the secret NAME → credentials HERE: reader() runs on the
        # driver (where the in-process secret registry lives) at scan build,
        # and the reader object is pickled to the worker processes — so views
        # can carry only the secret name in their options (no plaintext token
        # in query plans / explain / the Spark UI SQL tab), matching the
        # reference's scan-bind resolution (src/d1_storage.cpp:92,105-124).
        # DROP SECRET / rotation applies at the next scan of any view.
        self._config = _config_from_options(options)

    def _client(self) -> D1Client:
        return D1Client(self._config, transport=make_transport(self.options))

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            sql = filter_to_sql(f)
            if sql is not None:
                self.where.append(sql)
            else:
                yield f
        # Translated filters are also kept locally? No: fully absorbed ones are
        # exact re-serializations, so we do NOT yield them (reference removes
        # them from the plan too, src/d1_scan.cpp:225-230).

    def partitions(self) -> list[InputPartition]:
        """Default: ONE remote query (reference parity — the reference runs a
        single SELECT, src/d1_scan.cpp:240-247). Opt-in ``partitions`` option
        splits the scan into N rowid ranges (keyset-style pagination) so a
        large D1 table doesn't become one task. Requires an implicit rowid
        (every D1 table unless WITHOUT ROWID); combined with ``limit`` we fall
        back to a single partition, since a divided LIMIT would over-fetch."""
        n = int(self.options.get("partitions") or 1)
        if n <= 1 or self.options.get("limit"):
            return [D1RangePartition(0)]
        client = self._client()
        sql = (
            "SELECT min(rowid) AS lo, max(rowid) AS hi FROM "
            + quote_ident(self.options["table"])
        )
        if self.where:
            sql += " WHERE " + " AND ".join(self.where)
        rows = client.query(sql)
        if not rows or rows[0].get("lo") is None:
            return [D1RangePartition(0)]
        lo, hi = int(rows[0]["lo"]), int(rows[0]["hi"])
        n = min(n, hi - lo + 1)
        step = (hi - lo + 1 + n - 1) // n
        return [
            D1RangePartition(i, lo + i * step, min(lo + (i + 1) * step - 1, hi))
            for i in range(n)
        ]

    def read(self, partition: InputPartition):
        client = self._client()
        limit = int(self.options["limit"]) if self.options.get("limit") else None
        where = list(self.where)
        lo = getattr(partition, "lo", None)
        if lo is not None:
            where.append(f"rowid BETWEEN {lo} AND {partition.hi}")
        sql = build_select_sql(self.options["table"], where, limit)
        rows = client.query(sql)
        fields = self.schema_.fields
        for row in rows:
            yield tuple(coerce_value(row.get(f.name), f.dataType) for f in fields)


# ---------------------------------------------------------------------------
# DataFrame helpers (reference table functions d1_query/d1_databases/d1_tables
# and the d1_execute scalar — driver-side by design, SURVEY §2A sinks)
# ---------------------------------------------------------------------------


def d1_query(spark, sql: str, secret: str = "", client: D1Client | None = None, **opts):
    """Arbitrary SQL → all-VARCHAR DataFrame, column order from the first row
    (reference d1_query degenerate schema, src/d1_functions.cpp:119-131)."""
    client = client or _client_from_options({"secret": secret, **opts})
    rows = client.query(sql)
    if not rows:
        return spark.createDataFrame([], StructType([]))
    cols = list(rows[0].keys())
    ddl = StructType.fromDDL(", ".join(f"`{c}` string" for c in cols))
    data = [tuple(None if r.get(c) is None else str(_plain(r.get(c))) for c in cols) for r in rows]
    return spark.createDataFrame(data, ddl)


def _plain(v: Any) -> Any:
    if isinstance(v, bool):  # D1 JSON true/false → "1"/"0" (d1_http.cpp:295-300)
        return "1" if v else "0"
    return v


def d1_execute(sql: str, secret: str = "", client: D1Client | None = None, **opts) -> int:
    client = client or _client_from_options({"secret": secret, **opts})
    return client.execute(sql)


def d1_databases(spark, secret: str = "", client: D1Client | None = None, **opts):
    """Account database list → DataFrame (uuid, name, created_at, version,
    file_size, num_tables, region) — src/d1_functions.cpp:200-287."""
    client = client or _client_from_options({"secret": secret, **opts})
    ddl = StructType.fromDDL(
        "uuid string, name string, created_at string, version string, "
        "file_size bigint, num_tables int, region string"
    )
    data = [
        (
            str(d.get("uuid", "")),
            str(d.get("name", "")),
            str(d.get("created_at", "")),
            str(d.get("version", "")),
            int(d.get("file_size") or 0),
            int(d.get("num_tables") or 0),
            str(d.get("running_in_region") or d.get("region") or ""),
        )
        for d in client.list_databases()
    ]
    return spark.createDataFrame(data, ddl)


def d1_tables(spark, secret: str = "", client: D1Client | None = None, **opts):
    """PRAGMA table_list → DataFrame (schema, name, type, ncol, writable,
    strict) — src/d1_functions.cpp:310-415."""
    client = client or _client_from_options({"secret": secret, **opts})
    ddl = StructType.fromDDL(
        "schema string, name string, type string, ncol int, writable boolean, strict boolean"
    )
    data = [
        (
            str(t.get("schema", "main")),
            str(t.get("name", "")),
            str(t.get("type", "table")),
            int(t.get("ncol") or 0),
            str(t.get("wr", t.get("writable", "0"))) in ("1", "true", "True"),
            str(t.get("strict", "0")) in ("1", "true", "True"),
        )
        for t in client.list_tables()
    ]
    return spark.createDataFrame(data, ddl)
