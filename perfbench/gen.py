"""Seeded inputs for the benchmark, derived from the sf0.1 test data.

Every table is copied with its rows in a seed-chosen order. The pipeline
workload first replicates the fact tables the way `graft.tools.Sf1Gen`
does, so data grows linearly and replicas are not near-duplicates:

- region and nation stay single-copy;
- every fact-table key shifts by replica * stride, consistently across
  the tables that reference it, so joins match within a replica only;
- `documents.text` goes through a per-replica vowel permutation, which
  keeps lengths and word counts;
- `embeddings` get a fixed per-element jitter.

Only the row order depends on the seed. The content does not, so a
deterministic query gives the same result at every seed, and one set of
recorded fingerprints checks every run. The source directory is only
read; inputs are cached per (workload, seed) under the build directory.
"""
import itertools
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

C = 1_000_000    # custkey / suppkey / partkey / user / doc / vec stride
O = 10_000_000   # orderkey / event stride

# (table, column) -> stride of the per-replica key shift
SHIFTS = {
    "customer": {"c_custkey": C},
    "supplier": {"s_suppkey": C},
    "part": {"p_partkey": C},
    "orders": {"o_orderkey": O, "o_custkey": C},
    "lineitem": {"l_orderkey": O, "l_partkey": C, "l_suppkey": C},
    "events": {"event_id": O, "user_id": C},
    "documents": {"doc_id": C},
    "embeddings": {"vec_id": C},
}
SINGLE_COPY = {"region", "nation"}

# distinct vowel permutations, identity first (the Sf1Gen order)
VOWEL_PERMS = ["aeiou"] + ["".join(p) for p in itertools.permutations("aeiou")
                           if "".join(p) != "aeiou"]


def _splitmix(x):
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _jitter(t: pa.Table, r: int) -> pa.Table:
    emb = t.column("embedding").combine_chunks()
    offsets = emb.offsets.to_numpy()
    values = emb.values.to_numpy(zero_copy_only=False).astype(np.float32)
    lengths = np.diff(offsets)
    ids = np.repeat(t.column("vec_id").to_numpy(), lengths).astype(np.uint64)
    pos = (np.arange(len(values)) - np.repeat(offsets[:-1], lengths)).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = _splitmix(ids * np.uint64(1_000_003) + pos * np.uint64(7919) + np.uint64(r))
    jitter = (h % np.uint64(1000)).astype(np.float32) / np.float32(5000.0) - np.float32(0.1)
    arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                   pa.array(values + jitter, pa.float32()))
    return t.set_column(t.schema.get_field_index("embedding"),
                        t.schema.field("embedding"), arr.cast(t.schema.field("embedding").type))


def _replica(t: pa.Table, table: str, r: int) -> pa.Table:
    for c, stride in SHIFTS.get(table, {}).items():
        i = t.schema.get_field_index(c)
        col = t.column(c)
        t = t.set_column(i, t.schema.field(c), pc.add(col, pa.scalar(r * stride, col.type)))
    if r == 0:
        return t
    if table == "documents":
        tr = str.maketrans("aeiou", VOWEL_PERMS[r])
        text = [None if s is None else s.translate(tr) for s in t.column("text").to_pylist()]
        i = t.schema.get_field_index("text")
        t = t.set_column(i, t.schema.field("text"), pa.array(text, t.schema.field("text").type))
    if table == "embeddings":
        t = _jitter(t, r)
    return t


def _build(src: Path, table: str, replicas: int, seed: int) -> pa.Table:
    base = pq.read_table(src / f"{table}.parquet")
    n = 1 if table in SINGLE_COPY else replicas
    t = pa.concat_tables([_replica(base, table, r) for r in range(n)]) if n > 1 else base
    rng = np.random.default_rng([seed, TABLES.index(table)])
    return t.take(pa.array(rng.permutation(t.num_rows)))


def ensure(src: Path, cache: Path, workload: str, replicas: int, seed: int):
    """Returns (input dir, manifest); generates the inputs on a cache miss.
    The manifest holds rows, bytes and files per table."""
    out = cache / f"{workload}-seed{seed}"
    manifest_path = out / "manifest.json"
    if manifest_path.exists():
        return out, json.loads(manifest_path.read_text())
    if out.exists():
        shutil.rmtree(out)
    tmp = cache / f".{workload}-seed{seed}.tmp{os.getpid()}"
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    manifest = {"workload": workload, "seed": seed, "replicas": replicas, "tables": {}}
    for table in TABLES:
        t = _build(src, table, replicas, seed)
        path = tmp / f"{table}.parquet"
        pq.write_table(t, path)
        manifest["tables"][table] = {"rows": t.num_rows, "bytes": path.stat().st_size,
                                     "files": 1}
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    tmp.rename(out)
    return out, manifest
