"""Seeded document table for the dedup workload, in the shape
``q_dedup_clusters`` reads (``<dir>/documents.parquet``: doc_id, text, lang,
source, n_chars).

Texts are random word strings over a small vocabulary, drawn from the seed.
A share of documents are near-copies of an earlier document (its text plus a
marker word), and copies of copies occur, so duplicate clusters include
chains.  Which documents copy which is the same for every seed: the number
of connected-components rounds, and so the job count, depends on that shape,
and a workload keeps one shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def generate(out_dir: str, n_docs: int, seed: int, dup_frac: float = 0.08) -> str:
    shape = np.random.RandomState(0)
    rng = np.random.RandomState(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and shape.rand() < dup_frac:
            texts.append(texts[shape.randint(i)] + " dup")
        else:
            words = rng.randint(len(_VOCAB), size=rng.randint(30, 100))
            texts.append(" ".join(_VOCAB[k] for k in words))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[k] for k in rng.randint(len(_LANGS), size=n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return path
