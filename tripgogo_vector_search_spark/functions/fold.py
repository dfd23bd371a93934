"""vector.py's SQL fold in numpy, bit for bit.

The SQL fold ``aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (x, y) ->
x + y)`` adds ``a[j] * b[j]`` dimension by dimension in element order.
:func:`fold` does the same IEEE operations on the same doubles, so every
result is bit-identical; :func:`matrix` lays an Arrow list column out
for it. Both the batch joins' Arrow pair kernel (``kernels.py``) and the
online IVF search, which scores its probed cells in the driver
(``operators/ann.py``), use them. This module needs only numpy and
pyarrow: importing it loads no pandas.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``sum_j a[j] * b[j]`` added in element order from 0.0 — the SQL
    fold's evaluation order, term for term (numpy does not fuse the
    multiply-add). ``a``/``b`` are ``(dim, ...)`` and broadcast."""
    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    with np.errstate(over="ignore", invalid="ignore"):
        for x, y in zip(a, b):
            acc += x * y
    return acc


def matrix(lists: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """A list column as an ``(n, dim)`` float64 matrix, zero-padded past
    each row's length; and each row's length, -1 for a NULL list or one
    holding a NULL element. A zero pad adds 0.0 to the fold, which
    leaves every double unchanged. ``dim`` is at least the longest
    row's length."""
    n = len(lists)
    lens = pc.fill_null(pc.list_value_length(lists), 0).to_numpy()
    ends = np.cumsum(lens)
    flat = lists.flatten()
    vals = flat.cast(pa.float64())
    vals = (pc.fill_null(vals, 0.0) if flat.null_count else vals).to_numpy()
    if n and (lens == dim).all():
        m = vals.reshape(n, dim)
    else:
        m = np.zeros((n, dim))
        m[np.repeat(np.arange(n), lens),
          np.arange(len(vals)) - np.repeat(ends - lens, lens)] = vals
    bad = lists.is_null().to_numpy(zero_copy_only=False)
    if flat.null_count:
        nulls = np.flatnonzero(flat.is_null().to_numpy(zero_copy_only=False))
        bad = bad | np.isin(np.arange(n), np.searchsorted(ends, nulls, side="right"))
    return m, np.where(bad, -1, lens)
