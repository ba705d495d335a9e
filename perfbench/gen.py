"""Seeded, single-process input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments, so the
same seed always yields the same parquet. The program never sees the seed or
the truth tables; it only reads the parquet files written here.

The planted code corpus is the engine's own ``fixtures.corpus_b``; this module
adds ``query_tables``, the ``documents``, ``embeddings`` and ``events`` tables
that the query suite reads, in the shape of the engine's sf tables, and the
multi-part parquet writer and seed cache both workloads share.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd

# -- query-suite tables ------------------------------------------------------

DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
DOC_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def query_tables(seed: int, n_docs: int, n_vecs: int, n_events: int):
    """(tables, families): documents / embeddings / events in the shape of the
    engine's sf tables, and the planted near-duplicate families of doc ids.

    Documents are word salads over a 30-word vocabulary; ~5% are an earlier
    document with " dup" appended (the planted near duplicates the dedup
    queries find). Embeddings are random unit vectors, ~5% of them a perturbed
    copy of an earlier one."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    root = list(range(n_docs))
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            src = int(rng.integers(0, i))
            root[i] = root[src]
            texts.append(texts[src] + " dup")
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), n_words)))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [DOC_LANGS[j] for j in rng.integers(0, len(DOC_LANGS), n_docs)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.normal(size=(n_vecs, 64))
    for i in range(11, n_vecs):
        if rng.random() < 0.05:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.3 * rng.normal(size=64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": labels.astype(np.int32),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, n_events // 60), n_events).astype(np.int64),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
        }
    )
    families: dict[int, list[int]] = {}
    for i, r in enumerate(root):
        families.setdefault(r, []).append(i)
    tables = {"documents": docs, "embeddings": emb, "events": events}
    return tables, [f for f in families.values() if len(f) > 1]


# -- caching -------------------------------------------------------------------


def write_parts(df: pd.DataFrame, path: str, n_parts: int) -> None:
    """Write a table as a directory of ``n_parts`` parquet files."""
    os.makedirs(path, exist_ok=True)
    step = math.ceil(len(df) / n_parts)
    for p in range(n_parts):
        df.iloc[p * step : (p + 1) * step].to_parquet(
            os.path.join(path, f"part-{p:05d}.parquet"), index=False
        )


def cached(path: str, build) -> str:
    """Run ``build(path)`` unless ``path`` already exists; ``build`` publishes
    ``path`` with a final rename, so a half-built input is never reused."""
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        build(path)
    return path
