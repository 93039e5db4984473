"""Seeded input tables for the query_mix workload.

The base tier in data/ holds the ten analytics tables (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) at the engine's smallest scale. A seed derives a variant
that keeps every table's schema, row count and structure:

- documents: the words are permuted within groups of equal length (the
  near-duplicate marker "dup" stays put), a bijection, so near-duplicate
  structure, vocabulary and n_chars are exactly preserved while every
  shingle and signature changes;
- embeddings: every dimension's sign is flipped by a seeded mask, an
  orthogonal map, so all dot products, norms and cluster structure are
  preserved while every stored value changes;
- the relational and event tables are copied unchanged.

Usage: python3 perfbench/gen_tables.py --seed N --out DIR
"""
import argparse
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def word_map(texts, seed):
    """Seeded bijection of the vocabulary within equal-length groups."""
    rng = random.Random(f"words:{seed}")
    groups = {}
    for w in sorted({w for t in texts for w in t.split(" ")}):
        if w != "dup":
            groups.setdefault(len(w), []).append(w)
    mapping = {"dup": "dup"}
    for words in groups.values():
        shuffled = words[:]
        rng.shuffle(shuffled)
        mapping.update(zip(words, shuffled))
    return mapping


def documents(seed, out):
    t = pq.read_table(os.path.join(BASE, "documents.parquet"))
    texts = t.column("text").to_pylist()
    m = word_map(texts, seed)
    remapped = [" ".join(m[w] for w in s.split(" ")) for s in texts]
    i = t.schema.get_field_index("text")
    t = t.set_column(i, t.schema.field(i), pa.array(remapped, pa.string()))
    pq.write_table(t, out)


def embeddings(seed, out):
    t = pq.read_table(os.path.join(BASE, "embeddings.parquet"))
    col = t.column("embedding").combine_chunks()
    values = col.values.to_numpy(zero_copy_only=False)
    offsets = col.offsets.to_numpy()
    dims = set(np.diff(offsets).tolist())
    assert len(dims) == 1, f"ragged embeddings: {dims}"
    dim = dims.pop()
    signs = np.random.default_rng(seed).choice(np.array([-1.0, 1.0], dtype=values.dtype), size=dim)
    flipped = (values.reshape(-1, dim) * signs).reshape(-1).astype(values.dtype)
    arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(flipped))
    i = t.schema.get_field_index("embedding")
    t = t.set_column(i, t.schema.field(i), arr.cast(t.schema.field(i).type))
    pq.write_table(t, out)


def generate(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name == "documents":
            documents(seed, dst)
        elif name == "embeddings":
            embeddings(seed, dst)
        else:
            shutil.copyfile(os.path.join(BASE, f"{name}.parquet"), dst)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)


if __name__ == "__main__":
    main()
