"""Order-insensitive result comparison against the registry's DuckDB oracles.

Both sides become one canonical digest: columns sorted by name, every cell
normalized the way the repo's oracle parity suite normalizes it (12
significant digits for floats, midnight-trimmed datetimes, bools as 0/1),
rows sorted. When the digests differ, the rows are compared once more with
floats allowed one unit of a 4-decimal rounding apart: on some seeds an
engine-dependent summation order puts an average on a rounding boundary
(q15's ``round(avg(o_totalprice), 4)`` came out .1984 vs .1983). DuckDB runs
untimed, over the same generated parquet files.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import pyarrow as pa

def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, (dt.date, dt.datetime)):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        s = str(v)
        return s[:-9] if s.endswith(" 00:00:00") else s
    return str(v)


def _rows(table: pa.Table) -> list[tuple]:
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return sorted(
        (tuple(v if isinstance(v, float) else _cell(v) for v in row) for row in zip(*data)),
        key=lambda r: tuple((0, v, "") if isinstance(v, float) else (1, 0.0, v) for v in r),
    )


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1.0001e-4)
    return _cell(a) == _cell(b)


def matches(got: pa.Table, want: pa.Table) -> bool:
    """Digest equality, else row-by-row equality with float tolerance."""
    if digest(got) == digest(want):
        return True
    if sorted(got.column_names) != sorted(want.column_names) or got.num_rows != want.num_rows:
        return False
    return all(
        all(_close(a, b) for a, b in zip(r1, r2))
        for r1, r2 in zip(_rows(got), _rows(want))
    )


def digest(table: pa.Table) -> tuple[int, str]:
    """(row count, canonical md5) of an Arrow table."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted("\x1f".join(_cell(v) for v in row) for row in zip(*data))
    h = hashlib.md5("|".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


class Oracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, sf_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def table(self, sql: str) -> pa.Table:
        return self.con.execute(sql).arrow()

    def close(self) -> None:
        self.con.close()
