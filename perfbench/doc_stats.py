#!/usr/bin/env python3
"""Shape statistics of a documents table, to compare the generated lake
with a fixture (the "Inputs" table in README.md).

    python3 perfbench/doc_stats.py path/to/documents.parquet
    python3 perfbench/doc_stats.py --generated 500

Prints the vocabulary size, words per document, distinct words per
document, the share of documents ending in ``dup``, the number of
document pairs whose word sets have Jaccard >= 0.95 (the MinHash
verifier's threshold) and the near-duplicate clusters those pairs form.
All pairs are compared exactly, so 5,000 documents take about a minute.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import lake  # noqa: E402

JACCARD = 0.95


def popcount(x: np.ndarray) -> np.ndarray:
    return np.unpackbits(x.astype(np.uint64).view(np.uint8)).reshape(-1, 64).sum(1)


def stats(texts: list[str]) -> dict:
    words = [t.split(" ") for t in texts]
    vocab = {w: i for i, w in enumerate(sorted({w for ws in words for w in ws}))}
    masks = np.array([sum(1 << vocab[w] for w in set(ws)) for ws in words],
                     dtype=np.uint64)
    n = len(texts)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pairs = 0
    for i in range(n - 1):
        rest = masks[i + 1:]
        jac = np.round(popcount(masks[i] & rest) / popcount(masks[i] | rest), 6)
        for j in np.nonzero(jac >= JACCARD)[0] + i + 1:
            pairs += 1
            parent[find(i)] = find(int(j))
    sizes = np.bincount([find(i) for i in range(n)])
    n_words = np.array([len(ws) for ws in words])
    return {
        "documents": n,
        "vocabulary": len(vocab),
        "words": (int(n_words.min()), int(n_words.max()), round(float(n_words.mean()), 1)),
        "distinct_words_mean": round(float(popcount(masks).mean()), 1),
        "dup_share": round(sum(ws[-1] == "dup" for ws in words) / n, 3),
        "near_dup_pairs": pairs,
        "largest_cluster": (int(sizes.max()), round(float(sizes.max()) / n, 3)),
        "docs_in_clusters": round(float(sizes[sizes > 1].sum()) / n, 3),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("path", nargs="?", help="a documents.parquet file")
    src.add_argument("--generated", type=int, metavar="N",
                     help="the lake generator's documents, N of them")
    args = ap.parse_args(argv)
    if args.generated:
        lake.SCALES["stats"] = dict(lake.SCALES["bench"], documents=args.generated)
        texts = lake.generate_tables("stats")["documents"].column("text").to_pylist()
    else:
        texts = pq.read_table(args.path, columns=["text"]).column("text").to_pylist()
    for k, v in stats([t for t in texts if t is not None]).items():
        print(f"{k}: {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
