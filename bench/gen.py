"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed gives the same
bytes. Tables are written as parquet with pyarrow so the JVM reads them
through the library's normal readers.

  points    (id BIGINT, x DOUBLE, y DOUBLE)      2-D set for HW1/HW2
  vectors   (vec_id BIGINT, emb ARRAY<DOUBLE>)   d-dim set for k-means
  corpus/documents.parquet, corpus/embeddings.parquet
            the schema of the repo's test tables (documents: doc_id, text,
            lang, source, n_chars; embeddings: vec_id, embedding FLOAT[],
            label), so the library's oracle SQL runs on them unchanged.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(table, path, files):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(path, f"part-{f:03d}.parquet"))


def points(seed, n, path, files=8):
    """Gaussian clusters, a hot grid cell and sparse uniform noise, so sure
    outliers, uncertain points and non-outliers all exist at D=0.5, M=10.
    The layout (cluster centers and scales) is fixed; the seed draws the
    sample, so every seed costs the same work."""
    layout = np.random.default_rng(0)
    centers = layout.uniform(20, 180, size=(12, 2))
    scales = layout.uniform(1.0, 4.0, size=12)
    rng = np.random.default_rng(seed)
    n_noise = max(50, n // 200)
    n_hot = n // 20
    n_clu = n - n_noise - n_hot
    which = rng.integers(0, 12, size=n_clu)
    clu = centers[which] + rng.normal(size=(n_clu, 2)) * scales[which, None]
    hot = rng.uniform(100.0, 100.1, size=(n_hot, 2))
    noise = rng.uniform(-400, 600, size=(n_noise, 2))
    xy = np.concatenate([clu, hot, noise])
    xy = xy[rng.permutation(len(xy))]
    t = pa.table({"id": pa.array(np.arange(len(xy), dtype=np.int64)),
                  "x": pa.array(xy[:, 0]), "y": pa.array(xy[:, 1])})
    _write(t, path, files)
    return len(xy)


def vectors(seed, n, d, path, files=8):
    centers = np.random.default_rng(1).normal(size=(16, d))
    rng = np.random.default_rng(seed + 1)
    v = centers[rng.integers(0, 16, size=n)] + rng.normal(size=(n, d)) * 0.6
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * d + 1, d, dtype=np.int32)),
                                   pa.array(v.reshape(-1)))
    t = pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)), "emb": emb})
    _write(t, path, files)
    return n


def corpus(seed, n_docs, path):
    """A document/embedding corpus shaped like the repo's sf0.1 test tables
    (measured there: 5000 documents, 2000 embeddings; see bench/README.md).

    documents: 10..100 tokens each (uniform), drawn uniformly from WORDS;
    5 % are near duplicates (another document's text plus " dup"), 0.16 %
    exact duplicates; lang 41 % en, the rest zh/es/fr/de; source src0..19.
    embeddings: one per document id below 0.4 * n_docs, 64-dim Gaussian
    scaled to unit norm, with no near-duplicate vectors; label 0..9."""
    rng = np.random.default_rng(seed + 2)
    base = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(k)))
            for k in rng.integers(10, 101, n_docs)]
    texts = list(base)
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = base[(i + int(rng.integers(1, n_docs))) % n_docs] + " dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.0016):
        texts[i] = texts[(i + int(rng.integers(1, n_docs))) % n_docs]
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    n_emb = max(1, int(n_docs * 0.4))
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    embt = pa.table({
        "vec_id": pa.array(ids[:n_emb]),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_emb * 64 + 1, 64, dtype=np.int32)),
            pa.array(emb.reshape(-1))),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(docs, os.path.join(path, "documents.parquet"))
    pq.write_table(embt, os.path.join(path, "embeddings.parquet"))
    return n_docs
