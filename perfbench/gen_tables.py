"""Synthetic `documents` and `embeddings` tables for the query mix.

Writes the two tables the mix's queries read, one parquet file each, with
the schemas of FIXTURES.md at the repository root:

- documents(doc_id, text, lang, source, n_chars): 50000·sf rows (at least
  500). A text is 10-99 words drawn uniformly from a 30-word vocabulary.
  5% of the documents are then replaced, one after another, by the text of
  a uniformly drawn document plus the token "dup" (near duplicates; two
  copies of one source are exact duplicates of each other). `lang` is en
  with probability 0.41 and zh/es/fr/de otherwise, `source` cycles through
  20 values.
- embeddings(vec_id, embedding, label): 20000·sf rows (at least 500),
  64-dimensional float32 Gaussian vectors scaled to unit norm, labels 0-9.

These value domains were calibrated against the fixture tables the engine
is tested with; perfbench/README.md compares the two. A fixed seed makes
the files of one scale factor byte-identical on every call.

Usage: python3 gen_tables.py <outDir> <scaleFactor>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def tables(sf):
    rng = np.random.default_rng(SEED)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    texts = [" ".join(rng.choice(WORDS, int(m))) for m in rng.integers(10, 100, n_doc)]
    for d in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, n_doc))] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return {"documents": documents, "embeddings": embeddings}


def main(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(float(sf)).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
