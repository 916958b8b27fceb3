"""Seeded input generator: a pure function of (fixture dir, factor, seed).

Reads the vendored fixture tables in ``perfbench/fixture`` (a copy of the
catalog's sf0.01 test tables) with pyarrow only — never through
``hadoop_spark`` — so an engine change cannot change its own inputs.

Every table except the ``region``/``nation`` dimensions is replicated
``factor`` times. Replica 0 keeps the fixture's keys, so the literal key
filters some queries carry (``vec_id < 8``, ``doc_id % 2 = 0``) select
the same rows at every factor. Replica ``r >= 1`` shifts every entity key
by ``m_r * STRIDE``: ``m_r`` is drawn from the seed, and ``STRIDE`` is a
multiple of every modulus the catalog queries apply to keys (2^16, 3 and
997), so each row keeps its residues, and every shifted key stays below
2^31 (the wedge kernel's packing limit). The seed also drives each
table's row order. Column types, parquet physical types and the schema
metadata are those of the fixture: the tables are written back with the
arrow schema they were read with (``events.ts`` stays a
``timestamp[us]`` that is not UTC-adjusted).

One parquet file per table, ``<out>/<name>.parquet``, which Spark and
DuckDB both read directly.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
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
# Dimension tables with fixed, referenced-by-value keys: never replicated.
FIXED = frozenset({"region", "nation"})
# Entity-key columns shifted per replica (all int64 in the fixture).
KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
STRIDE = (1 << 16) * 3 * 997
KEY_LIMIT = 1 << 31
# Bump when the generated bytes change for the same (fixture, factor, seed).
VERSION = 1
# Generated sets kept in the cache; older ones are deleted (a set of the
# largest workload is about 14 MB, and every seed makes a new one).
CACHE_KEEP = 8


def dir_digest(table_dir: str) -> str:
    """Content digest of a table set (the fixture or a generated one)."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(table_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


def replica_multipliers(factor: int, seed: int, max_key: int) -> list[int]:
    """``m_r`` per replica: 0 for replica 0, then distinct seeded values in
    ``[1, m_max]`` where ``m_max * STRIDE + max_key < 2^31``."""
    m_max = (KEY_LIMIT - 1 - max_key) // STRIDE
    if factor - 1 > m_max:
        raise ValueError(f"factor {factor} exceeds {m_max + 1} key-disjoint replicas")
    rng = np.random.default_rng([seed, factor, 1])
    picks = rng.choice(np.arange(1, m_max + 1), size=factor - 1, replace=False)
    return [0, *sorted(int(m) for m in picks)]


def build_table(table: pa.Table, name: str, mults: list[int], seed: int) -> pa.Table:
    """Replicate ``table`` once per multiplier, shift its keys, and permute
    the rows by the seed. The result has ``table``'s exact schema."""
    parts = []
    keys = KEYS.get(name, ())
    for m in [0] if name in FIXED else mults:
        t = table
        for col in keys:
            i = t.schema.get_field_index(col)
            shifted = pa.compute.add(t.column(i), pa.scalar(m * STRIDE, pa.int64()))
            t = t.set_column(i, t.schema.field(i), shifted)
        parts.append(t)
    out = pa.concat_tables(parts)
    rng = np.random.default_rng([seed, TABLES.index(name), 2])
    return out.take(pa.array(rng.permutation(out.num_rows)))


def generate(out_dir: str, factor: int, seed: int) -> str:
    """Write the (factor, seed) table set into ``out_dir``; returns its
    content digest."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    tables = {n: pq.read_table(os.path.join(FIXTURE_DIR, f"{n}.parquet")) for n in TABLES}
    max_key = max(
        pa.compute.max(tables[n].column(c)).as_py() for n, cols in KEYS.items() for c in cols
    )
    mults = replica_multipliers(factor, seed, max_key)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        out = build_table(table, name, mults, seed)
        pq.write_table(out, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return dir_digest(out_dir)


def cached(cache_root: str, factor: int, seed: int) -> tuple[str, str, float]:
    """Return (dir, content digest, generation seconds) for (factor, seed),
    generating into ``cache_root`` on a miss. The cache key covers the
    fixture bytes and the generator version; a hit is re-verified against
    the content digest recorded when it was written."""
    key = hashlib.sha256(
        f"{dir_digest(FIXTURE_DIR)}:{VERSION}:{factor}:{seed}".encode()
    ).hexdigest()[:16]
    out = os.path.join(cache_root, f"x{factor}s{seed}-{key}")
    stamp = os.path.join(out, "DIGEST")
    if os.path.exists(stamp):
        with open(stamp) as f:
            want = f.read().strip()
        if dir_digest(out) == want:
            return out, want, 0.0
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    digest = generate(out, factor, seed)
    with open(stamp, "w") as f:
        f.write(digest)
    gen_s = time.perf_counter() - t0
    sets = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)), key=os.path.getmtime)
    for old in sets[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return out, digest, gen_s
