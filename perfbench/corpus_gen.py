"""Seeded generator for the catalog tables the suffix-array and PQ
entries read: ``documents.parquet`` and ``embeddings.parquet``.

The shapes follow the synthetic tables the catalog is written against
(TESTDATA.md): documents are 10-100 words over a 30-word vocabulary, 5%
of them near-duplicates (an earlier text plus the token ``dup``), a few
exact copies; embeddings are 64-d unit vectors with a label in 0-9.

    python3 perfbench/corpus_gen.py OUT_DIR --seed 1 --docs 500 --vectors 500
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 20 and u < 0.05:
            text = texts[int(rng.integers(0, i))] + " dup"
        elif i > 20 and u < 0.052:
            text = texts[int(rng.integers(0, i))]
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))
            text = " ".join(VOCAB[w] for w in words)
        texts.append(text)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, len(LANGS), size=n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
        }
    )


def generate(out: str, seed: int, n_docs: int = 500, n_vectors: int = 500) -> dict[str, int]:
    """Write both tables under ``out``; returns rows written per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    docs, vecs = documents(rng, n_docs), embeddings(rng, n_vectors)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(vecs, os.path.join(out, "embeddings.parquet"))
    return {"documents": docs.num_rows, "embeddings": vecs.num_rows}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=500)
    ap.add_argument("--vectors", type=int, default=500)
    args = ap.parse_args()
    print(generate(args.out, args.seed, args.docs, args.vectors))


if __name__ == "__main__":
    main()
