#!/usr/bin/env python3
"""Seeded benchmark input generator.

Builds every graft table from the sf0.1 base tables and nothing else:

  python3 perfbench/gen.py --src <sf0.1 dir> --out <dir> --seed N \
      --scale S --rows-per-group R

The scale is a whole multiple of the sf0.1 row counts, built as
key-offset replicas (the pattern of tools/scale_testdata.py). Replica
0 keeps the original ids, so every key a registry literal names (small
ids, BFS anchors) still resolves; later replicas add mass with
disjoint keys and intact foreign keys.

The seed changes row contents, not just row order: each table's
measure columns (prices, balances, event values, document texts,
embeddings) are permuted across keys by a seeded permutation, per
replica. Keys, foreign keys and the dictionary columns queries group
on are never touched.

Files are single parquet files with a pinned rows-per-row-group, so
Spark can split fact scans across cores. The generator self-checks
its output (schemas, unique keys, foreign keys, base rows kept, row
groups, determinism, seed sensitivity) and records the parameters and
file digests in <out>/_manifest.json. It exits non-zero if any check
fails.
"""
import argparse
import hashlib
import io
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Unique key per table (the base lineitem repeats (l_orderkey,
# l_linenumber) pairs, so it has none) and the id offset between replicas.
KEYS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": [], "events": ["event_id"],
    "documents": ["doc_id"], "embeddings": ["vec_id"],
}
OFFSETS = {
    "c_custkey": 100_000, "o_custkey": 100_000, "s_suppkey": 10_000,
    "l_suppkey": 10_000, "p_partkey": 100_000, "l_partkey": 100_000,
    "o_orderkey": 1_000_000, "l_orderkey": 1_000_000,
    "event_id": 1_000_000, "user_id": 100_000, "doc_id": 100_000,
    "vec_id": 100_000,
}
FOREIGN = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]
# Measure columns permuted together (one block per table) by the seed.
PERMUTED = {
    "customer": [["c_acctbal"]],
    "supplier": [["s_acctbal"]],
    "part": [["p_retailprice"]],
    "orders": [["o_totalprice"]],
    "lineitem": [["l_quantity", "l_extendedprice", "l_discount", "l_tax"]],
    "events": [["value"]],
    "documents": [["text", "n_chars"]],
    "embeddings": [["embedding", "label"]],
}


def permute(t, name, rng):
    for block in PERMUTED.get(name, []):
        perm = pa.array(rng.permutation(t.num_rows))
        for c in block:
            i = t.schema.get_field_index(c)
            t = t.set_column(i, t.schema.field(i), t[c].take(perm))
    return t


def offset(t, i):
    if i == 0:
        return t
    for c in t.column_names:
        if c in OFFSETS:
            j = t.schema.get_field_index(c)
            col = pc.add(t[c], pa.scalar(i * OFFSETS[c], t[c].type))
            t = t.set_column(j, t.schema.field(j), col)
    return t


def generate(base, seed, scale):
    rng = np.random.default_rng([seed, 0x67726166])
    out = {}
    for n in TABLES:
        if n in ("region", "nation"):
            out[n] = base[n]
            continue
        parts = [permute(offset(base[n], i), n, rng) for i in range(scale)]
        out[n] = pa.concat_tables(parts)
    # Source schemas, metadata included (casts are no-ops by design).
    return {n: t.cast(base[n].schema) for n, t in out.items()}


def to_parquet(t, rows_per_group):
    buf = io.BytesIO()
    pq.write_table(t, buf, row_group_size=rows_per_group,
                   compression="snappy")
    return buf.getvalue()


def digest(tables):
    h = hashlib.sha256()
    for n in TABLES:
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, tables[n].schema) as w:
            w.write_table(tables[n])
        h.update(sink.getvalue())
    return h.hexdigest()


def check(tables, base, blobs, rows_per_group, seed, scale):
    def fail(msg):
        raise SystemExit(f"gen: self-check failed: {msg}")

    for n in TABLES:
        got, want = tables[n].schema, base[n].schema
        if [(f.name, f.type) for f in got] != [(f.name, f.type) for f in want]:
            fail(f"{n} schema {got} != {want}")
        keys = tables[n].select(KEYS[n])
        if KEYS[n] and \
                keys.group_by(KEYS[n]).aggregate([]).num_rows != keys.num_rows:
            fail(f"{n} keys {KEYS[n]} not unique")
        meta = pq.ParquetFile(io.BytesIO(blobs[n])).metadata
        sizes = [meta.row_group(i).num_rows for i in range(meta.num_row_groups)]
        if any(s != rows_per_group for s in sizes[:-1]) or \
                sizes[-1] > rows_per_group or meta.num_rows != tables[n].num_rows:
            fail(f"{n} row groups {sizes} break rows-per-group {rows_per_group}")
    for child, fk, parent, pk in FOREIGN:
        orphans = pc.sum(pc.invert(pc.is_in(
            tables[child][fk], value_set=tables[parent][pk]))).as_py()
        if orphans:
            fail(f"{orphans} {child}.{fk} rows miss {parent}.{pk}")
    # Replica 0 is the base table: every row a registry literal names
    # (key filters such as o_orderkey < 5000, the BFS anchor src = 1).
    for n in TABLES:
        if KEYS[n] and not pc.all(pc.is_in(
                base[n][KEYS[n][0]], value_set=tables[n][KEYS[n][0]])).as_py():
            fail(f"{n} lost base rows")
    again = generate(base, seed, scale)
    if any(to_parquet(again[n], rows_per_group) != blobs[n] for n in TABLES):
        fail("same seed gave different bytes")
    other = generate(base, seed + 1, scale)
    for n in PERMUTED:
        if other[n].equals(tables[n]):
            fail(f"seed {seed + 1} left {n} contents unchanged")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=int, required=True)
    ap.add_argument("--rows-per-group", type=int, required=True)
    a = ap.parse_args()
    missing = [n for n in TABLES if not os.path.isfile(f"{a.src}/{n}.parquet")]
    if missing:
        raise SystemExit(f"gen: {a.src} lacks {missing}")
    base = {n: pq.read_table(f"{a.src}/{n}.parquet") for n in TABLES}
    tables = generate(base, a.seed, a.scale)
    blobs = {n: to_parquet(t, a.rows_per_group) for n, t in tables.items()}
    check(tables, base, blobs, a.rows_per_group, a.seed, a.scale)
    os.makedirs(a.out, exist_ok=True)
    files = {}
    for n in TABLES:
        with open(f"{a.out}/{n}.parquet", "wb") as f:
            f.write(blobs[n])
        files[n] = {"rows": tables[n].num_rows,
                    "bytes": len(blobs[n]),
                    "sha256": hashlib.sha256(blobs[n]).hexdigest()}
    manifest = {"seed": a.seed, "scale": a.scale,
                "rows_per_row_group": a.rows_per_group,
                "content_sha256": digest(tables), "tables": files}
    with open(f"{a.out}/_manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
