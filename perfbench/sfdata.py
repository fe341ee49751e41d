"""Seeded stand-ins for the ``documents`` and ``embeddings`` tables.

The benchmark may only read inside its own checkout, so the tables that
``__spark_entry__.queries()`` rows read from an sf directory are generated
here from the run's seed.  Only the columns the cycled queries read are
written.  Sizes follow the repository's sf0.01 tables (500 documents, 500
embeddings), distributions its sf tables, as measured on sf0.1:

* ``documents``: doc_id, text of 10-100 tokens (uniform, mean 54) drawn
  uniformly from a 30-word vocabulary; 5% of the docs are another doc's
  text plus `` dup``, the near-duplicates the dedup rows look for.
* ``embeddings``: vec_id, 64-d float32 embedding ~ N(0, 0.125).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "fast row the agg key query a scan batch part line order sort hash "
         "slow group filter big customer join").split()
DUP_FRACTION = 0.05
EMB_DIM = 64


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_FRACTION:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_tok = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok)))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
    })


def embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    vecs = rng.normal(0.0, 0.125, size=(n_vecs, EMB_DIM)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
    })


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """Write ``documents.parquet`` and ``embeddings.parquet`` for ``seed``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
