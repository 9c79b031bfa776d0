"""Corpus tables for the `corpus_topk` workload, at the sizes and shapes of
the reference sf0.1 corpus.

Writes `documents` (5,000 rows), `embeddings` (2,000 rows) and `region` as
one parquet file each, with the column names and types the program's
`graft.sources.Tables` readers expect. The value distributions are those of
the reference corpus (`compare_corpus.py` prints both side by side):
  - documents: 10-99 words drawn uniformly from a 30-word vocabulary;
    5% are near-duplicates (another document plus the word "dup"), and one
    in 600 is an exact copy of another document; `lang` is
    41% "en" and 15% each of four others; `source` cycles over 20 values;
  - embeddings: 64-dim unit vectors, normalised Gaussian, with a label out
    of 10 drawn independently of the vector (no cluster structure).

The logical content depends only on a fixed data seed (42), so the committed
per-query row counts in `expected_rows.json` hold for every run. The run
seed only permutes the physical row order of each table, so the program
never reads the same bytes twice while the correct answers stay fixed.

    python3 gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
DOCUMENTS = 5_000
EMBEDDINGS = 2_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def documents(rng, n):
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(n)]
    pos = rng.permutation(n)
    n_near, n_exact = n // 20, n // 600
    near, near_src = pos[:n_near], pos[n_near:2 * n_near]
    exact, exact_src = pos[2 * n_near:2 * n_near + n_exact], pos[-n_exact:]
    for i, j in zip(near, near_src):
        texts[i] = texts[j] + " dup"
    for i, j in zip(exact, exact_src):
        texts[i] = texts[j]
    lang = np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return {
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": lang, "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n, dim=64, n_labels=10):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
            "label": rng.integers(0, n_labels, n).astype(np.int32)}


def tables():
    rng = np.random.default_rng(DATA_SEED)
    yield "region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    yield "documents", documents(rng, DOCUMENTS)
    yield "embeddings", embeddings(rng, EMBEDDINGS)


def main():
    out, seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    for name, cols in tables():
        table = pa.table(cols)
        order = perm_rng.permutation(table.num_rows)
        pq.write_table(table.take(pa.array(order)), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
