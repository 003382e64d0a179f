#!/usr/bin/env python3
"""Cut the slice of the sf0.1 dataset that the input generator samples from.

    python3 perfbench/extract.py <sf0.1 directory>

Writes perfbench/data/: the first EVENTS_KEPT events in time order, every
document and every embedding of sf0.1, and shapes.json, the shapes the
generator reads its rates from (event mix, error share, document length
and vocabulary, duplicate shares, embedding dimension and spread). The
benchmark reads only its own checkout, so it ships this extract instead
of reading the dataset at run time; rerun this script to refresh it.
"""

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
EVENTS_KEPT = 40_000
ERR_VALUE = 30.0             # q_flow_rollup's error rule: value >= 30
NEAR_MARK = " dup"           # sf0.1's near duplicates: a document plus this token


def _write(table, name):
    pq.write_table(table, os.path.join(DATA, name), compression="zstd")


def events(sf):
    e = pq.read_table(os.path.join(sf, "events.parquet")).to_pandas()
    e = e.sort_values(["ts", "event_id"], kind="stable").head(EVENTS_KEPT)
    k = e.props.map(lambda p: json.loads(p)["k"])
    _write(pa.table({
        "event_id": pa.array(e.event_id, pa.int64()),
        "ts_us": pa.array(e.ts.astype("int64") // 1000, pa.int64()),
        "user_id": pa.array(e.user_id, pa.int32()),
        "event_type": pa.array(e.event_type, pa.string()),
        "value": pa.array(e.value, pa.float64()),
        "k": pa.array(k, pa.int32())}), "events.parquet")
    return {
        "kept": len(e), "users": int(e.user_id.max()) + 1,
        "types": {t: round(float(s), 4)
                  for t, s in e.event_type.value_counts(normalize=True).sort_index().items()},
        "err_share": round(float((e.value >= ERR_VALUE).mean()), 4),
        "k_max": int(k.max()),
        "endpoint_keys": int(len(e.assign(k=k)[["user_id", "event_type", "k"]]
                                 .drop_duplicates())),
        "hours": round(float((e.ts.max() - e.ts.min()).total_seconds()) / 3600, 1)}


def documents(sf):
    d = pq.read_table(os.path.join(sf, "documents.parquet")).to_pandas()
    _write(pa.table({"doc_id": pa.array(d.doc_id, pa.int64()),
                     "text": pa.array(d.text, pa.string())}), "documents.parquet")
    words = d.text.str.split()
    n = words.str.len()
    texts = set(d.text)
    near = sum(t.endswith(NEAR_MARK) and t[:-len(NEAR_MARK)] in texts for t in d.text)
    vocab = sorted({w for ws in words for w in ws} - {NEAR_MARK.strip()})
    return {
        "docs": len(d), "words_min": int(n.min()), "words_median": float(n.median()),
        "words_max": int(n.max()), "vocab": vocab,
        "exact_share": round(float(d.text.duplicated().mean()), 4),
        "near_share": round(near / len(d), 4)}


def embeddings(sf):
    t = pq.read_table(os.path.join(sf, "embeddings.parquet"))
    _write(t, "embeddings.parquet")
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    lab = np.array(t.column("label").to_pylist())
    centred = x - np.stack([x[lab == c].mean(axis=0) for c in lab])
    return {"vectors": len(x), "dim": int(x.shape[1]),
            "labels": int(len(set(lab.tolist()))),
            "norm": round(float(np.linalg.norm(x, axis=1).mean()), 4),
            "label_std": round(float(centred.std()), 4)}


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sf = sys.argv[1]
    os.makedirs(DATA, exist_ok=True)
    shapes = {"source": "sf0.1", "events": events(sf), "documents": documents(sf),
              "embeddings": embeddings(sf)}
    with open(os.path.join(DATA, "shapes.json"), "w") as f:
        json.dump(shapes, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
