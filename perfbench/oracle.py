"""Reference answers and the result check.

Every benchmark query has a DuckDB twin run over the same generated
files before the server starts (untimed). A response passes when it
has the same row count and the same multiset of rows: both sides are
cast to the reference's column kinds, sorted on every column and
compared cell by cell (floats to a relative 1e-9, approximate
aggregates to the query's stated tolerance). ``digest`` names a result
in mismatch reports; it is order-independent because it hashes the
sorted form.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal

import numpy as np
import pyarrow as pa

FLOAT_RTOL = 1e-9


def kinds_of(table: pa.Table) -> list[str]:
    """Column kinds of a reference result: int, float, str or date."""
    out = []
    for f in table.schema:
        t = f.type
        if pa.types.is_integer(t) or pa.types.is_boolean(t):
            out.append("int")
        elif pa.types.is_decimal(t):
            out.append("int" if t.scale == 0 else "float")
        elif pa.types.is_floating(t):
            out.append("float")
        elif pa.types.is_date(t):
            out.append("date")
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            out.append("str")
        else:
            raise TypeError(f"reference column {f.name}: type {t} not handled")
    return out


def _py_cell(v, kind: str):
    if v is None:
        return None
    if kind == "int":
        return int(Decimal(str(v)))
    if kind == "float":
        return float(v)
    if kind == "date":
        d = v if isinstance(v, (int, np.integer)) else np.datetime64(str(v), "D")
        return int(d if isinstance(d, (int, np.integer)) else d.astype(np.int64))
    return str(v)


def to_numpy(values, kind: str) -> np.ndarray:
    """One result column in canonical form for ``kind``."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if not isinstance(values, pa.Array) or values.null_count:
        vals = values.to_pylist() if isinstance(values, pa.Array) else values
        cells = [_py_cell(v, kind) for v in vals]
        if kind == "float" and None not in cells:
            return np.array(cells, dtype=np.float64)
        return np.array(cells, dtype=object)
    arr, t = values, values.type
    if kind == "int":
        if pa.types.is_string(t) or (pa.types.is_integer(t) and not (
            pa.types.is_unsigned_integer(t) and t.bit_width == 64
        )):
            try:
                return arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                pass
        # wide decimals, UInt64 and numeric strings: exact Python ints
        return np.array(
            [int(Decimal(str(v))) for v in arr.to_pylist()], dtype=object
        )
    if kind == "float":
        return arr.cast(pa.float64()).to_numpy(zero_copy_only=False)
    if kind == "date":
        if not pa.types.is_integer(t):
            arr = arr.cast(pa.date32())
        return arr.cast(pa.int32()).to_numpy(zero_copy_only=False)
    if kind == "str":
        return np.array(arr.cast(pa.string()).to_pylist(), dtype=object)
    raise ValueError(kind)


def canonical(columns: list, kinds: list[str]) -> list[np.ndarray]:
    if len(columns) != len(kinds):
        raise ValueError(
            f"{len(columns)} columns returned, {len(kinds)} expected"
        )
    cols = [to_numpy(c, k) for c, k in zip(columns, kinds)]
    n = {len(c) for c in cols}
    if len(n) > 1:
        raise ValueError(f"ragged columns {sorted(n)}")
    if not cols or not len(cols[0]):
        return cols
    keys = []
    for c, k in zip(cols, kinds):
        if k == "float" and c.dtype != object:
            continue
        if c.dtype == object:
            # one ordering for both sides: values of one kind compare
            # among themselves; None sorts first
            none = np.array([v is None for v in c])
            vals = np.array(
                [v for v in c if v is not None], dtype=object
            )
            _, codes = np.unique(vals, return_inverse=True)
            full = np.zeros(len(c), dtype=np.int64)
            full[~none] = codes.reshape(-1) + 1
            keys.append(full)
        else:
            keys.append(c)
    keys += [c for c, k in zip(cols, kinds)
             if k == "float" and c.dtype != object]
    order = np.lexsort(keys[::-1])
    return [c[order] for c in cols]


def digest(cols: list[np.ndarray], kinds: list[str]) -> str:
    h = hashlib.sha256()
    for c, k in zip(cols, kinds):
        if k == "float" and c.dtype != object:
            h.update(np.array([float(f"{v:.6g}") for v in c]).tobytes())
        else:
            h.update(repr(c.tolist()).encode())
    return h.hexdigest()[:16]


def compare(expected: list[np.ndarray], got: list[np.ndarray],
            kinds: list[str], approx_rtol: float = 0.0) -> str | None:
    """None when equal, else a one-line reason."""
    ne = len(expected[0]) if expected else 0
    ng = len(got[0]) if got else 0
    if ne != ng:
        return f"row count {ng}, expected {ne}"
    for i, (e, g, k) in enumerate(zip(expected, got, kinds)):
        if approx_rtol:
            ef, gf = e.astype(np.float64), g.astype(np.float64)
            bad = np.abs(ef - gf) > approx_rtol * np.maximum(np.abs(ef), 1)
            if bad.any():
                j = int(np.argmax(bad))
                return f"col {i} row {j}: {g[j]!r} vs {e[j]!r} (rtol {approx_rtol})"
            continue
        if k == "float" and e.dtype != object and g.dtype != object:
            if not np.allclose(g, e, rtol=FLOAT_RTOL, atol=1e-9):
                j = int(np.argmax(~np.isclose(g, e, rtol=FLOAT_RTOL, atol=1e-9)))
                return f"col {i} row {j}: {g[j]!r} vs {e[j]!r}"
        elif not np.array_equal(e, g):
            j = int(np.argmax(np.asarray(e != g, dtype=bool)))
            return f"col {i} row {j}: {g[j]!r} vs {e[j]!r}"
    return None


# -- Spark's xxhash64, the default cityHash64 spelling ---------------
# The engine maps ClickHouse cityHash64 to Spark's 64-bit xxHash with
# seed 42; DuckDB has no such function, so the checksum query's
# reference value comes from this NumPy port over DuckDB-read columns.

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(v * _P2, 31) * _P1)
    h = _rotl(h, 27) * _P1 + _P4
    return _fmix(h)


def _hash_int(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(4)
    h = h ^ ((v & np.uint64(0xFFFFFFFF)) * _P1)
    h = _rotl(h, 23) * _P2 + _P3
    return _fmix(h)


def spark_xxhash64_sum(columns: list[tuple[np.ndarray, str]]) -> int:
    """sum over rows of xxhash64(col...) as a signed 64-bit value per
    row, for non-null long/int/date/double columns."""
    n = len(columns[0][0])
    h = np.full(n, 42, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for vals, kind in columns:
            if kind == "long":
                h = _hash_long(vals.astype(np.int64).view(np.uint64), h)
            elif kind == "double":
                d = vals.astype(np.float64)
                d = np.where(d == 0.0, 0.0, d)  # -0.0 hashes as 0.0
                h = _hash_long(d.view(np.uint64), h)
            elif kind == "int":
                u = vals.astype(np.int64).view(np.uint64)
                h = _hash_int(u, h)
            else:
                raise ValueError(kind)
    return int(h.view(np.int64).astype(object).sum())
