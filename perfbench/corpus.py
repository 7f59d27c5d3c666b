"""Seeded documents/embeddings corpus for the corpus-serving workload.

Same table shapes as the engine's testdata (``documents``: doc_id, text,
lang, source, n_chars; ``embeddings``: vec_id, embedding[64], label), so
every operator and route reads them unchanged.  The embeddings come from
``tools/gen_testdata.generate_clustered_embeddings`` (the Gaussian-mixture
fixture an IVF index is built for); the documents use its vocabulary.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools import gen_testdata

DIM = 64


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``out_dir``; returns their paths."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(gen_testdata.VOCAB)
    langs = np.array(gen_testdata.LANGS)
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
    docs = os.path.join(out_dir, "documents.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": pa.array(langs[rng.choice(len(langs), n_docs, p=gen_testdata.LANG_P)]),
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        docs,
    )
    gen_testdata.generate_clustered_embeddings(n_vecs, out_dir, seed=seed, dim=DIM)
    return {"documents": docs, "embeddings": os.path.join(out_dir, "embeddings.parquet")}


def query_vector(rng: np.random.Generator) -> list[float]:
    """A random unit query embedding (JSON-safe floats)."""
    v = rng.normal(0.0, 1.0, DIM)
    v /= np.linalg.norm(v)
    return [round(float(x), 6) for x in v]
