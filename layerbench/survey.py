#!/usr/bin/env python3
"""Prints the distributions gen.py models, for one directory of tables:

    python3 layerbench/survey.py DIR [DIR ...]

Run it on a directory of graft's test data and on one that gen.py wrote
at the same scale factor, and compare the columns (README.md, "Inputs").
"""
import collections
import os
import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = ["customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def shingles(text, k=5):
    w = text.split()
    return {tuple(w[i:i + k]) for i in range(max(1, len(w) - k + 1))}


def near_dup_share(texts, jaccard=0.8):
    """Share of documents whose 5-word shingles overlap those of an
    earlier document by at least `jaccard`."""
    sets = [shingles(t) for t in texts]
    index = collections.defaultdict(list)
    near = 0
    for i, s in enumerate(sets):
        cand = collections.Counter(j for g in s for j in index[g])
        if any(len(s & sets[j]) / len(s | sets[j]) >= jaccard
               for j, _ in cand.most_common(5)):
            near += 1
        for g in s:
            index[g].append(i)
    return near / len(texts)


def survey(d):
    def t(name, cols=None):
        return pq.read_table(os.path.join(d, f"{name}.parquet"), columns=cols)
    out = {f"rows.{n}": pq.read_metadata(os.path.join(d, f"{n}.parquet")).num_rows
           for n in TABLES}
    ev = t("events")
    out["type.events.ts"] = str(ev.schema.field("ts").type)
    out["type.orders.o_orderdate"] = str(t("orders").schema.field("o_orderdate").type)
    per_user = np.unique(ev["user_id"].to_numpy(), return_counts=True)[1]
    out["events.users"] = len(per_user)
    out["events.rows_per_user_mean"] = per_user.mean()
    out["events.rows_per_user_max"] = int(per_user.max())
    gaps = np.diff(np.sort(ev["ts"].to_numpy().astype("int64"))).astype(float)
    out["events.gap_cv"] = gaps.std() / gaps.mean()
    out["events.value_mean"] = float(np.mean(ev["value"].to_numpy()))
    texts = t("documents", ["text"])["text"].to_pylist()
    out["documents.words_mean"] = np.mean([len(x.split()) for x in texts])
    out["documents.exact_dup_share"] = 1 - len(set(texts)) / len(texts)
    out["documents.near_dup_share"] = near_dup_share(texts)
    em = t("embeddings")
    lab = em["label"].to_numpy()
    sizes = np.unique(lab, return_counts=True)[1]
    out["embeddings.clusters"] = len(sizes)
    out["embeddings.cluster_size_min"] = int(sizes.min())
    out["embeddings.cluster_size_max"] = int(sizes.max())
    v = np.array(em["embedding"].to_pylist(), dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    labels = np.unique(lab)
    c = np.array([v[lab == x].mean(0) for x in labels])
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    own = np.searchsorted(labels, lab)
    # with labels independent of the vectors this is about 1/sqrt(rows per label)
    out["embeddings.cos_to_own_centroid"] = float((v * c[own]).sum(1).mean())
    out["embeddings.nearest_centroid_is_own"] = float((np.argmax(v @ c.T, 1) == own).mean())
    lines = np.unique(t("lineitem", ["l_orderkey"])["l_orderkey"].to_numpy(),
                      return_counts=True)[1]
    out["lineitem.lines_per_order_mean"] = lines.mean()
    return out


def main():
    dirs = sys.argv[1:]
    if not dirs:
        sys.exit(__doc__)
    cols = [survey(d) for d in dirs]
    for k in cols[0]:
        vals = [c[k] for c in cols]
        print(f"{k:<40}" + "".join(
            f"{v:>18.4g}" if isinstance(v, float) else f"{v!s:>18}" for v in vals))


if __name__ == "__main__":
    main()
