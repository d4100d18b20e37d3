"""Seeded tables for the batch_suite workload: documents and embeddings
in the schema of the engine's test tables (see TESTDATA.md).

The shapes follow the sf0.1 tables: documents are 10-100 words from a
30-word vocabulary in five languages with 5% near-duplicates (an earlier
document plus " dup"); embeddings are unit vectors around ten labelled
centres. Texts and vectors are drawn once, from a fixed base seed; the
run's seed picks a bijection from them onto the ids 0..n-1 (doc_id,
vec_id), dense as in the test tables. So every seed asks the same
queries of the same data under other ids, and runs differ in the ids'
order, not in how much work the queries do: q113, for one, seeds its
codebook with the vectors whose vec_id is below 16, always 16 of them.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 0
N_DOCS = 300
N_EMB = 2000
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def _documents(rng, ids):
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    langs = rng.choice([l for l, _ in LANGS], size=N_DOCS, p=[p for _, p in LANGS])
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng, ids):
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, N_EMB)
    v = centres[labels] + rng.normal(scale=1.5, size=(N_EMB, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(ids),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    base, ids = np.random.default_rng(BASE_SEED), np.random.default_rng(seed)
    for name, make, n in (("documents", _documents, N_DOCS),
                          ("embeddings", _embeddings, N_EMB)):
        table = make(base, ids.permutation(n).astype(np.int64))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
