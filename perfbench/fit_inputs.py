#!/usr/bin/env python3
"""Measure the input figures `datagen.py` is fitted to.

    python3 perfbench/fit_inputs.py DATASET_DIR

DATASET_DIR holds one parquet file per table (the engine's scale-factor
layout, or a directory `datagen.generate` wrote). The script prints the
corpus's vocabulary, document lengths, near-copy share and languages,
the embeddings' cluster structure, and the row ratios between tables, so
a generated dataset can be checked against the one it stands in for.
"""
import collections
import json
import os
import statistics
import sys

import numpy as np
import pyarrow.parquet as pq


def table(d, name):
    path = os.path.join(d, f"{name}.parquet")
    return pq.read_table(path).to_pydict() if os.path.exists(path) else None


def corpus(docs):
    texts = docs["text"]
    tokens = collections.Counter(w for t in texts for w in t.split())
    total = sum(tokens.values())
    lengths = [len(t.split()) for t in texts]
    present = set(texts)
    near = sum(1 for t in texts if t.endswith(" dup") and t[:-4] in present)
    words = [w for w in tokens if w != "dup"]
    return {
        "documents": len(texts),
        "vocabulary": len(words),
        "word_share_min_max": [round(min(tokens[w] for w in words) / total, 4),
                               round(max(tokens[w] for w in words) / total, 4)],
        "words_per_doc_min_max": [min(lengths), max(lengths)],
        "words_per_doc_deciles": statistics.quantiles(lengths, n=10),
        "near_copy_share": round(near / len(texts), 4),
        "lang_share": {k: round(v / len(texts), 3) for k, v in
                       collections.Counter(docs["lang"]).most_common()},
        "sources": len(set(docs["source"])),
    }


def vectors(emb):
    v = np.array(emb["embedding"], dtype=np.float64)
    lab = np.array(emb["label"])
    cos = v @ v.T
    same = lab[:, None] == lab[None, :]
    np.fill_diagonal(same, False)
    other = lab[:, None] != lab[None, :]
    return {
        "vectors": len(v), "dim": v.shape[1],
        "labels": len(set(lab.tolist())),
        "norm_min_max": [round(float(x), 4) for x in
                         (np.linalg.norm(v, axis=1).min(),
                          np.linalg.norm(v, axis=1).max())],
        "mean_cos_same_label": round(float(cos[same].mean()), 4),
        "mean_cos_other_label": round(float(cos[other].mean()), 4),
    }


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    d = argv[1]
    rows = {n[:-len(".parquet")]: pq.ParquetFile(os.path.join(d, n))
            .metadata.num_rows
            for n in sorted(os.listdir(d)) if n.endswith(".parquet")}
    out = {"rows": rows}
    docs, emb = table(d, "documents"), table(d, "embeddings")
    if docs:
        out["documents"] = corpus(docs)
    if emb:
        out["embeddings"] = vectors(emb)
    ratios = {"orders_per_customer": ("orders", "customer"),
              "lineitems_per_order": ("lineitem", "orders"),
              "orders_per_part": ("orders", "part"),
              "orders_per_supplier": ("orders", "supplier")}
    out["ratios"] = {k: round(rows[a] / rows[b], 2)
                     for k, (a, b) in ratios.items() if a in rows and b in rows}
    events = table(d, "events")
    if events:
        out["events_value_median_mean"] = [
            round(statistics.median(events["value"]), 2),
            round(statistics.mean(events["value"]), 2)]
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
