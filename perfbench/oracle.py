"""DuckDB oracle check for the benchmark, with a result cache.

The expected result of a query is its registered oracle SQL run by DuckDB
over the generated input.  It is cached as a parquet file keyed by the
input's content digest (see :func:`gen.content_digest`) and the SHA-256 of
the SQL text, so the minutes the larger oracles take are paid once per
input, outside any timed region.

Comparison is order-insensitive.  Columns are matched by name.  Non-float
columns must be equal.  Float columns are compared exactly, and a row that
differs by at most one unit in the column's last rounded digit (for
``ROUND(x, 2)`` columns, 0.01) is an *exact mismatch*: reported by name,
not counted as an error.  Anything larger is an error.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EXACT = "exact"
WITHIN_UNIT = "within_unit"
MISMATCH = "mismatch"


def connect(in_dir: str, tables: tuple[str, ...]):
    """DuckDB connection with one view per table.

    A table may be a single parquet file or a Spark-written
    ``<table>.parquet/`` directory of part files.
    """
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(in_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def cache_path(cache_dir: str, name: str, sql: str) -> str:
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return os.path.join(cache_dir, f"{name}-{key}.parquet")


def expected(con_factory, cache_dir: str, name: str, sql: str) -> pa.Table:
    """Cached oracle result; ``con_factory()`` opens DuckDB on a miss."""
    path = cache_path(cache_dir, name, sql)
    if os.path.exists(path):
        return pq.read_table(path)
    tbl = con_factory().execute(sql).fetch_arrow_table()
    os.makedirs(cache_dir, exist_ok=True)
    pq.write_table(tbl, path + ".tmp")
    os.replace(path + ".tmp", path)
    return tbl


def _is_float(t: pa.DataType) -> bool:
    return pa.types.is_floating(t) or (pa.types.is_decimal(t) and t.scale > 0)


def _as_key(arr: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """Non-float column -> (comparable values, null mask)."""
    t = arr.type
    if pa.types.is_decimal(t):
        arr = pc.cast(arr, pa.int64())
    elif pa.types.is_timestamp(t):
        arr = pc.cast(pc.cast(arr, pa.timestamp("us", tz=t.tz)), pa.int64())
    elif pa.types.is_date(t) or pa.types.is_boolean(t):
        arr = pc.cast(arr, pa.int64())
    mask = np.asarray(pc.is_null(arr).to_pylist(), dtype=bool) if arr.null_count else np.zeros(len(arr), bool)
    if pa.types.is_integer(arr.type):
        return np.asarray(pc.fill_null(pc.cast(arr, pa.int64()), 0).to_numpy()), mask
    if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
        return np.asarray(pc.fill_null(arr, "").to_pylist(), dtype=object), mask
    return np.asarray([repr(v) for v in arr.to_pylist()], dtype=object), mask


def _as_float(arr: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """Float column -> (values with NULL as 0, null mask)."""
    f = pc.cast(arr, pa.float64())
    mask = np.asarray(pc.is_null(f).to_pylist(), dtype=bool) if f.null_count else np.zeros(len(f), bool)
    vals = np.asarray(pc.fill_null(f, 0.0).to_numpy(), dtype=np.float64)
    return vals, mask


def decimals(values: np.ndarray, max_d: int = 9) -> int | None:
    """Fewest decimal digits that represent every finite value, if any."""
    v = values[np.isfinite(values)]
    for d in range(max_d + 1):
        s = v * (10.0 ** d)
        tol = np.maximum(1e-6, 8 * np.finfo(np.float64).eps * np.abs(s))
        if np.all(np.abs(s - np.rint(s)) <= tol):
            return d
    return None


def compare(got: pa.Table, want: pa.Table) -> tuple[str, str]:
    """(status, detail) for an order-insensitive comparison."""
    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        return MISMATCH, f"schema: got {gcols} want {wcols}"
    if got.num_rows != want.num_rows:
        return MISMATCH, f"rowcount: got {got.num_rows} want {want.num_rows}"
    if got.num_rows == 0:
        return EXACT, ""
    fcols = [c for c in gcols if _is_float(got.schema.field(c).type) or _is_float(want.schema.field(c).type)]
    kcols = [c for c in gcols if c not in fcols]

    def canon(tbl: pa.Table) -> dict[str, np.ndarray]:
        out: dict[str, np.ndarray] = {}
        for c in kcols:
            out[c], out[c + "\x00null"] = _as_key(tbl.column(c))
        for c in fcols:
            out[c], out[c + "\x00null"] = _as_float(tbl.column(c))
        return out

    g, w = canon(got), canon(want)
    # sort rows by the exact columns first, then the floats
    masks = [c + "\x00null" for c in kcols + fcols]
    order_cols = masks + kcols + fcols

    def order(d: dict[str, np.ndarray]) -> np.ndarray:
        keys = []
        for c in reversed(order_cols):
            col = d[c]
            if col.dtype == object:
                _, inv = np.unique(col, return_inverse=True)
                keys.append(inv)
            else:
                keys.append(col)
        return np.lexsort(keys)

    go, wo = order(g), order(w)
    for c in kcols + masks:
        if not np.array_equal(g[c][go], w[c][wo]):
            return MISMATCH, f"column {c!r} differs"
    status, worst = EXACT, ""
    for c in fcols:
        a, b = g[c][go], w[c][wo]
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        if same.all():
            continue
        d = decimals(np.concatenate([a, b]))
        unit = 10.0 ** -d if d is not None else 0.0
        diff = np.abs(a - b)
        scale = np.maximum(np.abs(a), np.abs(b))
        limit = unit + 8 * np.finfo(np.float64).eps * scale
        bad = ~same & ~(diff <= limit)
        n = int((~same).sum())
        if bad.any():
            return MISMATCH, f"column {c!r}: {int(bad.sum())} rows beyond one unit ({unit:g}), max diff {diff[~same].max():g}"
        status, worst = WITHIN_UNIT, f"column {c!r}: {n} rows differ by <= {unit:g}"
    return status, worst
