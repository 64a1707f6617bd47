"""Seeded benchmark inputs derived from the engine's reference tables.

``perfbench/ref/`` holds a verbatim copy of the reference tables the
engine's DuckDB-oracle tests run on, at their sf 0.01 scale (see
TESTDATA.md): 60,000 lineitems, 15,000 orders, 10,000 events, 500 documents
and 500 embeddings. A workload's input is those tables with, for each seed:

- every table's rows in a seeded random order;
- every surrogate id of the star and of ``events`` remapped through a
  seeded permutation of its range (``ID_SPACES``): a bijection applied to the key and to every column that
  refers to it, so joins, fan-outs, group sizes and the value columns stay
  those of the reference data.

Two ids keep their values. ``event_id`` is the arrival order that the
lateness and streaming queries read. ``doc_id`` (and ``vec_id``, which
queries pair with it) is metadata to the pretraining funnel: ``doc_id % 97``
marks its decontamination probes and ``doc_id % 10`` a document's domain, so
remapping it would change the funnel's drop rates from seed to seed (on one
seed 100 survivors, on another 147, against 124 on the reference tables).
The same seed always gives byte-identical files; another seed gives other
row orders and other ids.

Run standalone to inspect an input:
    python3 perfbench/gen.py <out_dir> <seed>
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ref")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Surrogate id spaces: every (table, column) that holds ids of the space.
ID_SPACES = {
    "customer": (("customer", "c_custkey"), ("orders", "o_custkey")),
    "supplier": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "part": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "orders": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "user": (("events", "user_id"),),
}


def _rng(seed: int, *names: str) -> np.random.Generator:
    return np.random.default_rng([seed, *(zlib.crc32(n.encode()) for n in names)])


def _replace(table: pa.Table, column: str, values: np.ndarray) -> pa.Table:
    i = table.schema.get_field_index(column)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))


def remap_ids(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Apply one seeded permutation of ``0..n-1`` per id space."""
    out = dict(tables)
    for space, cols in ID_SPACES.items():
        vals = {c: out[t][c].to_numpy() for t, c in cols}
        lo = min(int(v.min()) for v in vals.values())
        n = max(int(v.max()) for v in vals.values()) + 1
        if lo < 0:
            raise ValueError(f"id space {space} has negative ids")
        perm = _rng(seed, "ids", space).permutation(n)
        for t, c in cols:
            out[t] = _replace(out[t], c, perm[vals[c]])
    return out


def shuffle_rows(table: pa.Table, seed: int, name: str) -> pa.Table:
    return table.take(pa.array(_rng(seed, "rows", name).permutation(table.num_rows)))


def derive(seed: int, ref_dir: str = REF_DIR) -> dict[str, pa.Table]:
    """The input tables for `seed`, in memory."""
    tables = {t: pq.read_table(os.path.join(ref_dir, f"{t}.parquet")) for t in TABLES}
    tables = remap_ids(tables, seed)
    return {t: shuffle_rows(tab, seed, t) for t, tab in tables.items()}


def generate(out_dir: str, seed: int) -> dict:
    """Write every table into `out_dir`; return {table: {rows, bytes, sha256}}."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, table in derive(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        manifest[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path), "sha256": digest}
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2])), indent=1))
