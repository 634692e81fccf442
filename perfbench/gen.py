"""Seeded input generator for the benchmark.

Derives one input set per seed from the base tables in ``data/sf0.01``
(a copy of the repository's sf0.01 test tables):

* a key-hash subsample that keeps every foreign key valid: orders and
  lineitem are sampled by order key, documents and embeddings by document
  id (``vec_id`` is the document id), events by user id; the dimension
  tables are copied whole. Each seed keeps the same number of keys (those
  with the smallest seeded hash), so input sizes vary little by seed;
* the MapReduce inputs: a word corpus whose word ranks are log-uniform
  (Zipf-like counts) and keyed rows for the secondary-sort job.

The same seed always yields byte-identical files.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")

# table -> (key column, table and column whose keys are sampled); the
# dimension tables (None) are copied whole
TABLES = {
    "region": None, "nation": None, "customer": None, "supplier": None,
    "part": None,
    "orders": ("o_orderkey", "orders", "o_orderkey"),
    "lineitem": ("l_orderkey", "orders", "o_orderkey"),
    "events": ("user_id", "events", "user_id"),
    "documents": ("doc_id", "documents", "doc_id"),
    "embeddings": ("vec_id", "documents", "doc_id"),
}
KEEP = 0.5            # share of keys kept by the subsample
CORPUS_LINES = 48000
TOKENS_PER_LINE = 12
VOCAB = 40000
KEYED_ROWS = 80000
KEYED_KEYS = 1000
# bump when the generated inputs change, so cached input sets are rebuilt
VERSION = 5

_M64 = (1 << 64) - 1


def _mix(x):
    """splitmix64 finaliser on a uint64 array."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def kept_keys(keys, seed):
    """The KEEP share of the distinct keys with the smallest seeded hash:
    every seed keeps exactly as many keys."""
    uniq = np.unique(keys)
    salt = np.uint64((seed * 0x9E3779B97F4A7C15 + 0x632BE59BD9B4E019) & _M64)
    with np.errstate(over="ignore"):
        h = _mix(uniq.astype(np.uint64) ^ salt)
    return uniq[np.argsort(h, kind="stable")[:round(KEEP * len(uniq))]]


def _word(rank):
    s = ""
    while True:
        s = chr(ord("a") + rank % 26) + s
        rank //= 26
        if rank == 0:
            return s


def corpus_table(seed):
    rng = np.random.default_rng([seed, 1])
    n = CORPUS_LINES * TOKENS_PER_LINE
    ranks = np.exp(rng.random(n) * np.log(VOCAB)).astype(np.int64)
    words = np.array([_word(r) for r in range(VOCAB + 1)], dtype=object)
    toks = words[ranks].reshape(CORPUS_LINES, TOKENS_PER_LINE)
    lines = [" ".join(row) for row in toks]
    return pa.table({"line": pa.array(lines, pa.string())})


def keyed_table(seed):
    rng = np.random.default_rng([seed, 2])
    key = rng.integers(0, KEYED_KEYS, KEYED_ROWS, dtype=np.int64)
    ts = rng.integers(0, 10**9, KEYED_ROWS, dtype=np.int64)
    rid = rng.permutation(KEYED_ROWS).astype(np.int64)
    val = np.char.add("v", rng.integers(0, 10**6, KEYED_ROWS).astype(str))
    return pa.table({"k": key, "ts": ts, "id": rid,
                     "v": pa.array(val.tolist(), pa.string())})


def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def generate(seed, out_dir):
    """Write the input set for `seed` under out_dir/{sf,mr}; returns the
    per-table rows and bytes. Reuses a complete earlier set."""
    manifest = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if m.get("version") == VERSION and m.get("seed") == seed:
            return m
    shutil.rmtree(out_dir, ignore_errors=True)
    sf, mr = os.path.join(out_dir, "sf"), os.path.join(out_dir, "mr")
    os.makedirs(sf)
    os.makedirs(mr)
    def read(name):
        return pq.read_table(os.path.join(BASE, name + ".parquet"))

    tables = {}
    for name, sample in TABLES.items():
        t = read(name)
        if sample is not None:
            key, parent, parent_key = sample
            keep = kept_keys(read(parent)[parent_key].to_numpy(), seed)
            t = t.filter(pa.array(np.isin(t[key].to_numpy(), keep)))
        tables[name] = _write(t, os.path.join(sf, name + ".parquet"))
    tables["mr.corpus"] = _write(corpus_table(seed),
                                 os.path.join(mr, "corpus.parquet"))
    tables["mr.keyed"] = _write(keyed_table(seed),
                                os.path.join(mr, "keyed.parquet"))
    m = {"version": VERSION, "seed": seed, "tables": tables}
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.replace(tmp, manifest)
    return m


def digest_dir(out_dir):
    """sha256 over every generated file, for the determinism self-test."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for name in sorted(files):
            if name.endswith(".parquet"):
                with open(os.path.join(root, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()
