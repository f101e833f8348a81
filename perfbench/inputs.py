"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (seed, scale): the same seed gives
byte-identical tables.  Shapes mirror the repo's sf0.1 test schema:

* ``lineitem`` — TPC-H style: each line item draws its order key
  uniformly from [0, orders) and its part key uniformly from
  [0, parts), which reproduces sf0.1's Poisson(4) lines per order and
  ~30 line items per part.  Orders, parts and line items all scale
  together, so the derived co-purchase graph keeps its average degree.
* ``documents`` — 30-word vocabulary texts of 8-96 words; 5% of the
  documents are verbatim copies of another document with " dup"
  appended (the near-duplicate structure of the sf0.1 corpus).
* ``embeddings`` — 64-dim Gaussian vectors; 2% are noisy copies of
  another vector (cosine ~0.95), the rest are independent.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

EMB_DIM = 64


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(salt)])


def lineitem(seed: int, items: int, orders: int, parts: int) -> pa.Table:
    rng = _rng(seed, 1)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, orders, items, dtype=np.int64),
            "l_partkey": rng.integers(0, parts, items, dtype=np.int64),
        }
    )


def documents(seed: int, n_docs: int, dup_frac: float = 0.05) -> pa.Table:
    rng = _rng(seed, 2)
    lengths = rng.integers(8, 97, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    n_dup = int(n_docs * dup_frac)
    dups = rng.choice(n_docs, n_dup, replace=False)
    for d in dups:
        src = int(rng.integers(0, n_docs))
        if src != d:
            texts[d] = texts[src] + " dup"
    return pa.table({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})


def embeddings(seed: int, n_vecs: int, dup_frac: float = 0.02) -> pa.Table:
    rng = _rng(seed, 3)
    x = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    n_dup = int(n_vecs * dup_frac)
    dups = rng.choice(n_vecs, n_dup, replace=False)
    srcs = rng.integers(0, n_vecs, n_dup)
    noise = rng.standard_normal((n_dup, EMB_DIM)).astype(np.float32)
    x[dups] = x[srcs] + 0.3 * noise
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1)), EMB_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
        }
    )


def query_ids(seed: int, n_vecs: int, k: int) -> list[int]:
    return sorted(int(i) for i in _rng(seed, 4).choice(n_vecs, k, replace=False))


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path
