"""Seeded stand-ins for the catalog's ``documents`` and ``embeddings``
tables, the only two the ``catalog`` workload's queries read.

They carry the catalog testdata's schema and marginals (TESTDATA.md): text
drawn uniformly from the same 31-word vocabulary, the same language mix,
20 round-robin sources, 64-dim unit-norm float32 vectors with labels 0-9.
A share of documents are exact or one-word-edited copies of earlier ones,
so the duplicate census and near-dup tiers have work to find. Pure numpy +
pyarrow, no Spark.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
DIM = 64


def generate(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_words = rng.integers(8, 97, n_docs)
    words = rng.integers(0, len(VOCAB), (n_docs, 96))
    texts = [" ".join(VOCAB[j] for j in words[i, : n_words[i]])
             for i in range(n_docs)]
    # exact copies and one-word edits of earlier documents
    kind = rng.random(n_docs)
    src = rng.integers(0, np.maximum(np.arange(n_docs), 1))
    for i in range(1, n_docs):
        if kind[i] < 0.02:
            texts[i] = texts[src[i]]
        elif kind[i] < 0.05:
            toks = texts[src[i]].split(" ")
            toks[int(rng.integers(0, len(toks)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(toks)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = rng.standard_normal((n_vecs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def write(tables: dict[str, pa.Table], out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, out_dir / f"{name}.parquet")
