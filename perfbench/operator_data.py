"""Fixed tables for the operator_mix workload.

The tables do not depend on the run's seed (the seed only orders the
queries), so each query's result digest can be pinned in
operator_digests.json. Schemas follow the TPC-H-like tables the
SparkEntry queries read: orders, customer, nation, lineitem, documents and
embeddings, with only the columns those queries use.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
# One query per operator family with reuse checkpoints: Closure, Dedup
# (exact join + connected components) and Graph.
QUERIES = ["q14_closure", "q35_dedup_clusters", "q85_pagerank"]
WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "the a line sort window data column join small customer query big "
         "order group stream filter vector").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
SIZES = dict(documents=400, embeddings=400, dim=64, labels=10, orders=3000,
             customers=300, nations=25, lineitems=6000, parts=400, suppliers=40)


def _documents(rng, n):
    texts, langs, sources = [], [], []
    for i in range(n):
        if i >= 40 and rng.random() < 0.25:
            # near-duplicate of an earlier document: a few words replaced
            src = int(rng.integers(0, i))
            words = texts[src].split()
            for _ in range(max(1, len(words) // 12)):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
            langs.append(langs[src])
            sources.append(sources[src])
        else:
            k = int(rng.integers(8, 70))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
            langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
            sources.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts, "lang": langs, "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim, labels):
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + 0.8 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(out_dir):
    """Write every table under `out_dir` (one parquet file each)."""
    rng = np.random.default_rng(DATA_SEED)
    s = SIZES
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": _documents(rng, s["documents"]),
        "embeddings": _embeddings(rng, s["embeddings"], s["dim"], s["labels"]),
        "orders": pa.table({
            "o_orderkey": pa.array(range(1, s["orders"] + 1), pa.int64()),
            "o_custkey": pa.array(rng.integers(1, s["customers"] + 1, s["orders"]), pa.int64()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(1, s["customers"] + 1), pa.int64()),
            "c_nationkey": pa.array(rng.integers(0, s["nations"], s["customers"]), pa.int64()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(s["nations"]), pa.int64()),
            "n_regionkey": pa.array([i % 5 for i in range(s["nations"])], pa.int64()),
        }),
        "lineitem": pa.table({
            "l_partkey": pa.array(rng.integers(1, s["parts"] + 1, s["lineitems"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, s["suppliers"] + 1, s["lineitems"]), pa.int64()),
        }),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
