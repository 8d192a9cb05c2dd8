"""Seeded input data for the benchmark workloads.

Every table is a pure function of the seed, written as one parquet file per
table: the ``documents``/``embeddings`` LLM-pipeline tables the engine's
oracle entries use, and the ``items`` table of the OLTP workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the a an and or of to in is it that for on with as at by from "
         "spark table query index batch stream column order join filter "
         "vector token model data parquet shuffle stage merge sort scan "
         "cache page cursor write flush delta segment engine plan layer "
         "record field value key group count sum window event user text "
         "small large fast slow near dup hash band shingle score rank").split()

SIZES = {"documents": 5_000, "embeddings": 2_000, "items": 100_000}
EMB_DIM = 64
ITEM_GROUPS = 16


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_text(rng, words: np.ndarray) -> str:
    n = int(rng.integers(20, 60))
    toks = list(words[rng.integers(0, len(words), n)])
    # sprinkle punctuation so the punct/stopword ratios are non-trivial
    for i in rng.integers(0, n, max(1, n // 10)):
        toks[i] = toks[i] + str(rng.choice([".", ",", "!", "?"]))
    return " ".join(toks).capitalize()


def llm_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    nd, ne = SIZES["documents"], SIZES["embeddings"]
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.25:
            # near-duplicate of an earlier document: one word swapped, so
            # most shingles (and usually some LSH band) are shared
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            texts.append(_doc_text(rng, words))
    documents = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, nd)],
        "source": [f"src{s}" for s in rng.integers(0, 8, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(8, EMB_DIM))
    label = rng.integers(0, 8, ne)
    vecs = (centers[label] + 0.6 * rng.normal(size=(ne, EMB_DIM))).astype(
        np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return {"documents": documents, "embeddings": embeddings}


def items_table(rng: np.random.Generator, n: int | None = None) -> pa.Table:
    """The mutate_serve table: string primary key ``id`` (= str(k))."""
    n = n or SIZES["items"]
    k = np.arange(n, dtype=np.int64)
    return pa.table({
        "id": [str(i) for i in k],
        "k": k,
        "grp": (k % ITEM_GROUPS).astype(np.int64),
        "val": _money(rng, 0.0, 1000.0, n),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return sizes
