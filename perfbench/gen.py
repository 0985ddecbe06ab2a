"""Seeded input generator for the benchmark workloads.

The base is a committed copy of the sf0.01 test tables (``data/sf0.01``).
A workload's input is ``factor`` key-shifted replicas of that base, the way
``tools/scale_soak.py`` builds its 10x replica: replica ``r`` offsets every
id family by ``r * next_pow2(max_id + 1)``; ``region`` and ``nation`` stay
fixed.  The offsets are powers of two >= 32, so ``product_id = l_orderkey %
32`` is preserved and each synthetic raster product grows ``factor`` times.

The seed decides which replica copy receives which offset and the physical
row order of every output file.  The multiset of rows does not depend on the
seed, so a query's correct result is the same for every seed; what changes
is how rows fall into row groups, splits and partitions.

Output: one parquet file per table, ``<out_dir>/<table>.parquet``, written
with fixed writer settings so the same seed gives byte-identical files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "sf0.01")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: id columns to shift, per table (column -> key family)
SHIFTS: dict[str, dict[str, str]] = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
#: the (table, column) whose maximum sets each key family's offset unit
FAMILY_SOURCE = {
    "cust": ("customer", "c_custkey"),
    "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "order": ("orders", "o_orderkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}

#: bump when the generated bytes change for the same (seed, factor)
GEN_VERSION = 1
ROW_GROUP_ROWS = 16384


def _next_pow2(n: int) -> int:
    p = 32
    while p < n:
        p <<= 1
    return p


def load_base() -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(BASE_DIR, f"{t}.parquet")) for t in TABLES}


def family_units(base: dict[str, pa.Table]) -> dict[str, int]:
    return {
        fam: _next_pow2(int(pc.max(base[tbl][col]).as_py()) + 1)
        for fam, (tbl, col) in FAMILY_SOURCE.items()
    }


def replicate(
    base: dict[str, pa.Table], factor: int, seed: int
) -> dict[str, pa.Table]:
    """Key-shifted ``factor``-fold replica with seed-driven row order."""
    rng = np.random.default_rng(seed)
    units = family_units(base)
    out: dict[str, pa.Table] = {}
    for tbl in TABLES:
        src = base[tbl]
        shifts = SHIFTS[tbl]
        if shifts and factor > 1:
            # replica copy i gets offset slot offsets[i]; the set of slots is
            # always 0..factor-1, so the union does not depend on the seed
            offsets = rng.permutation(factor)
            parts = []
            for slot in offsets:
                t = src
                for col, fam in shifts.items():
                    i = t.schema.get_field_index(col)
                    shifted = pc.add(t[col], pa.scalar(int(slot) * units[fam], t[col].type))
                    t = t.set_column(i, col, shifted)
                parts.append(t)
            t = pa.concat_tables(parts)
        else:
            t = src
        order = rng.permutation(t.num_rows)
        out[tbl] = t.take(pa.array(order)).combine_chunks()
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for tbl, t in tables.items():
        path = os.path.join(out_dir, f"{tbl}.parquet")
        tmp = path + ".tmp"
        pq.write_table(
            t.replace_schema_metadata(None),
            tmp,
            row_group_size=ROW_GROUP_ROWS,
            compression="snappy",
            use_dictionary=True,
            write_statistics=True,
        )
        os.replace(tmp, path)


def generate(out_dir: str, factor: int, seed: int) -> dict[str, dict[str, int]]:
    """Write the seeded input to ``out_dir``; return rows and bytes per table."""
    tables = replicate(load_base(), factor, seed)
    write_tables(tables, out_dir)
    return describe(out_dir)


def describe(in_dir: str) -> dict[str, dict[str, int]]:
    info = {}
    for tbl in TABLES:
        path = os.path.join(in_dir, f"{tbl}.parquet")
        info[tbl] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return info


def content_digest(factor: int) -> str:
    """Order-independent identity of a workload's input rows.

    The rows are the base files replicated ``factor`` times, so the base
    bytes, the factor and the generator version fix the multiset; the seed
    only permutes it.  Oracle results are cached under this digest.
    """
    h = hashlib.sha256(f"gen{GEN_VERSION}:x{factor}".encode())
    for tbl in TABLES:
        with open(os.path.join(BASE_DIR, f"{tbl}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]
