"""Prints the shape statistics of two corpora side by side: a reference corpus
directory and one written by gen.py.

    python3 perfbench/gen.py <gen_dir> <seed>
    python3 perfbench/compare_corpus.py <reference_dir> <gen_dir>

Both directories hold `documents.parquet` and `embeddings.parquet`.
"""
import collections
import sys

import numpy as np
import pyarrow.parquet as pq


def stats(d):
    docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
    texts = docs["text"]
    words = np.array([len(t.split()) for t in texts])
    lang = collections.Counter(docs["lang"])
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
    v = np.array(emb["embedding"], dtype=np.float64)
    label = np.array(emb["label"])
    x = v.ravel()
    # norm of each label's mean vector: about 1/sqrt(rows per label) when
    # labels carry no cluster structure, larger when they do
    centre = [np.linalg.norm(v[label == k].mean(0)) for k in np.unique(label)]
    return {
        "documents": len(texts),
        "vocabulary": len({w for t in texts for w in t.split()}),
        "words min/median/max": f"{words.min()}/{np.median(words):g}/{words.max()}",
        "near-duplicates (ends ' dup')": sum(t.endswith(" dup") for t in texts),
        "exact duplicates": len(texts) - len(set(texts)),
        "lang en share": round(lang["en"] / len(texts), 3),
        "languages": len(lang),
        "sources": len(set(docs["source"])),
        "embeddings": len(v),
        "dim": v.shape[1],
        "norm min/max": f"{np.linalg.norm(v, axis=1).min():.4f}/{np.linalg.norm(v, axis=1).max():.4f}",
        "component std": round(x.std(), 4),
        "component kurtosis": round(((x - x.mean()) ** 4).mean() / x.var() ** 2, 2),
        "labels": len(centre),
        "rows per label min/max": f"{np.bincount(label).min()}/{np.bincount(label).max()}",
        "label centre norm mean": round(float(np.mean(centre)), 3),
        "label centre norm if random": round(float(np.sqrt(len(centre) / len(v))), 3),
    }


def main():
    ref, gen = stats(sys.argv[1]), stats(sys.argv[2])
    print(f"{'statistic':32} {'reference':>16} {'generated':>16}")
    for k in ref:
        print(f"{k:32} {str(ref[k]):>16} {str(gen[k]):>16}")


if __name__ == "__main__":
    main()
