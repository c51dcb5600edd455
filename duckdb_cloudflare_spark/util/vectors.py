"""Arrow list columns as numpy matrices: the one decode and encode every
embedding and dedup kernel uses (``operators/similarity.py``,
``operators/dedup.py``).

Decode policy, stated once:

- A row is *valid* for a fixed-width kernel when it is non-NULL and has
  exactly ``dim`` elements. ``fixed`` returns the valid rows as one
  ``(n_valid, dim)`` matrix plus their row indices, and separately the
  indices of the non-NULL rows whose length is wrong. What a kernel emits
  for the other rows is that kernel's output contract, not the codec's.
- Float elements are widened to float64 before any arithmetic (float32
  products would diverge from the DuckDB oracle's doubles); the widening is
  exact, so the matrix equals ``np.asarray(row, float64)`` bit for bit. A
  NULL element becomes NaN, as ``np.asarray`` turns ``None`` into NaN.
- Integer kernels take rows that Spark already made NULL-free; a NULL
  element there raises, as ``np.asarray(row, int64)`` did.
- ``ragged`` decodes variable-length int64 lists to per-row lengths plus
  one flat value array; a NULL row has length 0.

Nothing is converted through Python objects or pandas: the offsets,
validity bitmap and child values are read as numpy arrays, and slicing
offsets (a batch cut out of a larger one) are honoured.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def lengths(arr: pa.Array) -> np.ndarray:
    """Elements per row (int64); -1 for a NULL row."""
    if len(arr) == 0:
        return np.zeros(0, dtype=np.int64)
    lens = np.diff(np.asarray(arr.offsets, dtype=np.int64))
    if arr.null_count:
        lens[np.asarray(arr.is_null())] = -1
    return lens


def fixed(
    arr: pa.Array, dim: int, dtype=np.float64
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(matrix, rows, wrong)``: the non-NULL rows with exactly ``dim``
    elements as a C-contiguous ``(len(rows), dim)`` matrix of ``dtype``,
    their row indices, and the indices of non-NULL rows of another length."""
    lens = lengths(arr)
    rows = np.nonzero(lens == dim)[0]
    wrong = np.nonzero((lens >= 0) & (lens != dim))[0]
    if len(rows) == 0:
        return np.empty((0, dim), dtype=dtype), rows, wrong
    off = np.asarray(arr.offsets, dtype=np.int64)
    values = arr.values.slice(off[0], off[-1] - off[0])
    if len(rows) == len(arr):  # every row valid: the values are the matrix
        idx = slice(None)
    else:
        idx = (off[rows] - off[0])[:, None] + np.arange(dim)
    if values.null_count and not np.issubdtype(dtype, np.floating):
        if np.asarray(values.is_null())[idx].any():
            raise ValueError("NULL element in an integer vector")
    flat = values.to_numpy(zero_copy_only=False)  # float NULL -> NaN
    M = np.ascontiguousarray(flat[idx], dtype=dtype).reshape(len(rows), dim)
    return M, rows, wrong


def ragged(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """``(lens, flat)`` for variable-length int64 lists: per-row element
    counts (NULL row -> 0) and the valid rows' elements concatenated."""
    lens = np.maximum(lengths(arr), 0)
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return lens, np.asarray(flat, dtype=np.int64)


def lists(
    values: np.ndarray,
    rows: np.ndarray | None = None,
    n: int | None = None,
    fill: str = "null",
) -> pa.Array:
    """A list array of ``n`` rows whose rows ``rows`` hold the rows of the
    ``(len(rows), w)`` matrix ``values`` (all rows when ``rows`` is None).
    The other rows are NULL (``fill="null"``), empty (``"empty"``) or ``w``
    NULL elements (``"nulls"``). Elements keep the matrix's dtype."""
    values = np.asarray(values)
    w = values.shape[1]
    if rows is None:
        rows, n = np.arange(len(values)), len(values)
    valid = np.zeros(n, dtype=bool)
    valid[rows] = True
    if fill == "empty":
        lens = np.where(valid, w, 0)
        child = pa.array(values.ravel())
    else:
        lens = np.full(n, w)
        full = np.zeros((n, w), dtype=values.dtype)
        full[rows] = values
        child = pa.array(
            full.ravel(), mask=np.repeat(~valid, w) if fill == "nulls" else None
        )
    offsets = pa.array(np.concatenate(([0], np.cumsum(lens))), pa.int32())
    mask = pa.array(~valid) if fill == "null" and not valid.all() else None
    return pa.ListArray.from_arrays(offsets, child, mask=mask)
