"""Seeded generator for the corpus tables the curation workload reads.

Writes ``documents`` and ``embeddings`` as one parquet file each, with
the schemas and value distributions of the engine's fixture tables
(FIXTURES.md §A): a small-vocabulary document corpus in five languages
with exact duplicates and near-duplicate marker tokens, and unit-norm
64-d float embeddings with ten labels.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n_docs: int) -> dict:
    texts = []
    for i in range(n_docs):
        if i % 97 == 5 and i > 5:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
            continue
        words = rng.choice(VOCAB, int(rng.integers(8, 100))).tolist()
        if i % 20 == 11:
            words.append("dup")  # near-duplicate marker token
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n_vecs: int, dim: int = 64) -> dict:
    v = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    }


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Generate the corpus tables into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vecs))
