"""Shape statistics of a directory of corpus tables.

    python3 perfbench/shape.py <dir-with-documents/embeddings/events.parquet>

Prints one JSON object with the properties the operator queries depend
on: vocabulary, text length, near-duplicate pairs, embedding similarity
and event key counts.  Used to compare the generated ``corpus_ops``
tables with the repository's test tables (see README.md).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

#: the ``embed_near_dup`` query's cosine threshold
COS_THRESHOLD = 0.45


def _shingles(text: str, k: int = 5) -> set[str]:
    w = text.split()
    return {" ".join(w[i:i + k]) for i in range(max(1, len(w) - k + 1))}


def _groups(n: int, pairs: list[tuple[int, int]]) -> int:
    """Connected components of size > 1 among ``pairs``."""
    parent = list(range(n))

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        parent[root(a)] = root(b)
    members = {i for p in pairs for i in p}
    return len({root(i) for i in members})


def shape(d: str) -> dict:
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
    texts = list(docs["text"])
    words = [w for t in texts for w in t.split()]
    sh = [_shingles(t) for t in texts]
    pairs = [(i, j) for i in range(len(sh)) for j in range(i)
             if len(sh[i] & sh[j]) / len(sh[i] | sh[j]) > 0.5]
    q = lambda v: [round(float(x), 1) for x in np.percentile(v, [0, 25, 50, 75, 100])]  # noqa: E731

    emb = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()
    vecs = np.stack(emb["embedding"].values).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = vecs @ vecs.T
    upper = cos[np.triu_indices(len(vecs), 1)]
    np.fill_diagonal(cos, -1.0)
    same = (emb["label"].values[:, None] == emb["label"].values[None, :])[np.triu_indices(len(vecs), 1)]

    ev = pq.read_table(os.path.join(d, "events.parquet")).to_pandas()
    return {
        "documents": {
            "rows": len(texts), "distinct_words": len(set(words)),
            "words_per_doc": q([len(t.split()) for t in texts]),
            "chars_per_doc": q([len(t) for t in texts]),
            "distinct_texts": len(set(texts)),
            "near_dup_pairs": len(pairs), "near_dup_groups": _groups(len(texts), pairs),
            "lang_en_share": round(float((docs["lang"] == "en").mean()), 3),
            "sources": int(docs["source"].nunique()),
        },
        "embeddings": {
            "rows": len(vecs), "dim": vecs.shape[1], "labels": int(emb["label"].nunique()),
            "max_cos_per_row": [round(float(x), 3) for x in
                                np.percentile(cos.max(axis=1), [0, 50, 100])],
            f"pairs_cos_ge_{COS_THRESHOLD}": int((upper >= COS_THRESHOLD).sum()),
            "mean_cos_same_label": round(float(upper[same].mean()), 4),
        },
        "events": {
            "rows": len(ev), "users": int(ev["user_id"].nunique()),
            "event_types": int(ev["event_type"].nunique()),
            "value_mean": round(float(ev["value"].mean()), 1),
            "days": round((ev["ts"].max() - ev["ts"].min()).total_seconds() / 86400, 1),
        },
    }


if __name__ == "__main__":
    print(json.dumps(shape(sys.argv[1])))
