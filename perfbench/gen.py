"""Seeded input generator for the benchmark.

Every input the program sees is derived from the frozen sf0.01 fixture copy
in `fixtures/sf0.01` and the workload seed, so the same seed gives
byte-identical inputs and a different seed gives different ones:

- fact tables (lineitem, orders, events, documents, embeddings) keep a
  seeded 90 % sample of their rows, in a seeded row order;
- dimension tables keep every row, in a seeded row order;
- a corpus-pipeline iteration directory holds a seeded sample of 475 of the
  500 documents, in seeded row order, plus every embedding;
- `arrival.txt` is a seeded permutation of the base documents' doc_ids: the
  order in which index-refresh appends them.

pyarrow keeps each column's physical parquet type (timestamp units
included), so the generated tables read exactly as the fixtures do.
"""
import os

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
SAMPLED = {"orders", "lineitem", "events", "documents", "embeddings"}
SAMPLE_FRAC = 0.9
ITER_DOCS = 475


def _rng(seed, *salt):
    return np.random.default_rng([seed & 0xFFFFFFFF, *salt])


def _fixture(name):
    return pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))


def _write(table, path):
    pq.write_table(table, path)


def _sample(table, rng, n=None):
    """`n` rows (all when None) of `table`, in a seeded order."""
    order = rng.permutation(table.num_rows)
    return table.take(order if n is None else order[:n])


def generate_base(seed, out_dir):
    """Write the ten tables for `seed` into `out_dir`, plus the arrival order."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        t = _fixture(name)
        n = int(t.num_rows * SAMPLE_FRAC) if name in SAMPLED else None
        t = _sample(t, _rng(seed, 1, i), n)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        if name == "documents":
            ids = t.column("doc_id").to_pylist()
            arrival = [ids[j] for j in _rng(seed, 2).permutation(len(ids))]
            with open(os.path.join(out_dir, "arrival.txt"), "w") as f:
                f.write("\n".join(str(d) for d in arrival) + "\n")


def generate_iteration(seed, k, out_dir):
    """Corpus-pipeline input `k` for `seed`: 475 sampled documents + embeddings."""
    os.makedirs(out_dir, exist_ok=True)
    docs = _sample(_fixture("documents"), _rng(seed, 3, k), ITER_DOCS)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    emb = _sample(_fixture("embeddings"), _rng(seed, 4, k))
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))


def digest(path):
    """Content digest of every file under `path` (names and bytes)."""
    import hashlib
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
