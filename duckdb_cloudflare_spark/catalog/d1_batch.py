"""D1 batched transactions — parity with the reference's custom transaction
manager (/root/reference src/storage/d1_transaction.cpp:17-70,
src/storage/d1_transaction_manager.cpp:11-45, batch HTTP
src/d1_http.cpp:525-547; semantics documented in reference README.md:199-255):

- BEGIN buffers write statements as SQL strings (D1 has no real BEGIN)
- COMMIT sends ONE HTTP POST with the JSON array of statements
- ROLLBACK only discards the unsent buffer (no undo — non-ACID, documented)
- reads inside the transaction execute immediately → NO read-your-writes
"""

from __future__ import annotations

from typing import Any

from duckdb_cloudflare_spark.sources.d1 import D1Client, quote_ident
from duckdb_cloudflare_spark.sources.d1 import sql_literal as _sql_literal  # the one encoder


class D1Batch:
    """``with D1Batch(client) as tx: tx.execute(sql)`` → one batched POST on
    clean exit; exception → buffer discarded (rollback)."""

    def __init__(self, client: D1Client):
        self.client = client
        self._buffer: list[str] = []
        self.results: list[int] = []

    # -- write path (buffered) ---------------------------------------------
    def execute(self, sql: str) -> None:
        self._buffer.append(sql)

    # -- read path (immediate — no read-your-writes) -----------------------
    def query(self, sql: str) -> list[dict[str, Any]]:
        return self.client.query(sql)

    # -- lifecycle ----------------------------------------------------------
    def commit(self) -> list[int]:
        try:
            self.results = self.client.batch(self._buffer)
        finally:
            self._buffer = []
        return self.results

    def rollback(self) -> None:
        self._buffer = []

    def __enter__(self) -> "D1Batch":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None:
            self.commit()
        else:
            self.rollback()
        return False


# Cloudflare caps a D1 statement at ~100 KB of SQL (reference
# D1-ATTACH-SOLUTION.md:20-23). Statements are sized against this budget
# and flushed early; a SINGLE row whose statement would exceed it raises
# rather than letting the remote batch fail mid-write (earlier batches are
# already committed — no rollback).
D1_MAX_STATEMENT_BYTES = 100_000


def d1_insert_df(
    df,
    table: str,
    client: D1Client,
    statements_per_batch: int = 50,
    rows_per_statement: int = 50,
    insert_verb: str = "INSERT",
    max_statement_bytes: int = D1_MAX_STATEMENT_BYTES,
) -> int:
    """Write a DataFrame to a D1 table through the reference's ONLY
    supported write path — generated INSERT statements over the batch
    endpoint (catalog DML is intentionally unsupported there:
    src/d1_storage.cpp:39-57 throws \"use d1_execute()\"; this helper builds
    those statements).

    Rows stream through the driver via ``toLocalIterator`` (never a full
    collect) and are grouped into multi-row VALUES statements, then into
    batched POSTs — D1 is an OLTP-sized store, so the driver-side funnel IS
    the right topology (the bottleneck is the remote API, not the driver;
    Cloudflare caps ~100 KB SQL per statement, D1-ATTACH-SOLUTION.md:20-23).
    Returns the number of rows written.
    """
    return _insert_rows(
        df.toLocalIterator(), df.columns, table, client,
        statements_per_batch, rows_per_statement, insert_verb,
        max_statement_bytes,
    )


_INSERT_VERBS = ("INSERT", "INSERT OR REPLACE", "INSERT OR IGNORE")

def _insert_rows(
    rows, columns, table: str, client: D1Client,
    statements_per_batch: int, rows_per_statement: int,
    insert_verb: str = "INSERT",
    max_statement_bytes: int = D1_MAX_STATEMENT_BYTES,
) -> int:
    """Shared funnel: rows → multi-row VALUES statements → batched POSTs.
    Statements respect BOTH ``rows_per_statement`` and the
    ``max_statement_bytes`` budget (UTF-8 SQL bytes — the unit Cloudflare
    meters). Module-level (not a closure) so it pickles cleanly into
    executors."""
    if insert_verb not in _INSERT_VERBS:
        raise ValueError(f"insert_verb must be one of {_INSERT_VERBS}")
    cols = ", ".join(quote_ident(c) for c in columns)
    written = 0
    buffer: list[str] = []
    values: list[str] = []
    qtable = quote_ident(table)
    prefix = f"{insert_verb} INTO {qtable} ({cols}) VALUES "
    prefix_bytes = len(prefix.encode("utf-8"))
    stmt_bytes = prefix_bytes  # running size of the statement being built

    def flush_statement():
        nonlocal values, stmt_bytes
        if values:
            buffer.append(prefix + ", ".join(values))
            values = []
        stmt_bytes = prefix_bytes

    def flush_batch():
        nonlocal buffer
        if buffer:
            client.batch(buffer)
            buffer = []

    for row in rows:
        tup = "(" + ", ".join(_sql_literal(v) for v in row) + ")"
        tup_bytes = len(tup.encode("utf-8"))
        if prefix_bytes + tup_bytes > max_statement_bytes:
            raise ValueError(
                f"single row renders to {prefix_bytes + tup_bytes} bytes of "
                f"SQL, over the D1 per-statement limit of "
                f"{max_statement_bytes} bytes ({D1_MAX_STATEMENT_BYTES} = "
                "Cloudflare's ~100 KB cap); split oversized values (e.g. "
                "large blobs/text) before writing"
            )
        sep = 2 if values else 0  # ', ' between value tuples
        if values and stmt_bytes + sep + tup_bytes > max_statement_bytes:
            flush_statement()
            if len(buffer) >= statements_per_batch:
                flush_batch()
            sep = 0
        values.append(tup)
        stmt_bytes += sep + tup_bytes
        written += 1
        if len(values) >= rows_per_statement:
            flush_statement()
            if len(buffer) >= statements_per_batch:
                flush_batch()
    flush_statement()
    flush_batch()
    return written


def d1_insert_df_distributed(
    df,
    table: str,
    client: D1Client,
    statements_per_batch: int = 50,
    rows_per_statement: int = 50,
    insert_verb: str = "INSERT",
    max_statement_bytes: int = D1_MAX_STATEMENT_BYTES,
) -> int:
    """``d1_insert_df`` without the driver funnel: each partition builds and
    POSTs its own batches via ``foreachPartition``, so a big write is bounded
    by the remote API, not by streaming every row through the driver. Same
    statement/batch semantics per partition (one POST per
    ``statements_per_batch`` statements). The client's config+transport must
    be picklable (both shipped transports are). Per-partition atomicity only,
    same as the reference's batch endpoint. Returns the number of rows
    written (counted via a driver-side accumulator).

    RETRY HAZARD: ``foreachPartition`` side effects are NOT exactly-once —
    a failed/retried or speculatively re-launched task re-POSTs its batches,
    silently duplicating rows in D1. The accumulator stays exactly-once for
    the *action*, so the returned count will NOT reveal the duplicates.
    Mitigations: disable ``spark.speculation`` for jobs using this writer,
    and make the write idempotent — give the target table a unique key and
    set ``insert_verb="INSERT OR REPLACE"`` (or ``"INSERT OR IGNORE"``) so
    a replayed partition overwrites/skips instead of duplicating."""
    columns = list(df.columns)
    acc = df.sparkSession.sparkContext.accumulator(0)

    def write_partition(rows) -> None:
        n = _insert_rows(
            rows, columns, table, client, statements_per_batch,
            rows_per_statement, insert_verb, max_statement_bytes,
        )
        acc.add(n)

    df.foreachPartition(write_partition)
    return acc.value
