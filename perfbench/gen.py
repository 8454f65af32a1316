"""Seeded input generators for the benchmark workloads.

The shapes follow ``tools/gen_scale_data.py`` (``events`` and
``documents``), scaled to the sizes the workloads fix. The same seed
always yields the same tables; :func:`content_hash` fingerprints them so
two runs can show they read identical inputs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]


def events(seed: int, n_events: int, n_keys: int) -> pa.Table:
    """User-keyed events, uniform over keys, in arrival (``seq``) order.

    Columns: ``key`` (user id), ``seq`` (arrival ordinal), ``kind``
    (one of :data:`EVENT_TYPES`) and ``v`` (exponential(50) payload,
    clipped to [0, 600] and rounded to cents).
    """
    rng = np.random.default_rng([seed, 1])
    return pa.table({
        "key": rng.integers(0, n_keys, n_events),
        "seq": np.arange(n_events, dtype=np.int64),
        "kind": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)],
        "v": np.round(rng.exponential(50.0, n_events).clip(0, 600), 2),
    })


def documents(seed: int, n_docs: int) -> pa.Table:
    """The ``documents`` table: 10-100 words from a 31-word vocabulary
    (so shingles collide and near-dup detection has real work), a
    skewed language label and 20 sources."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, n_docs)
    flat = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(flat[offs[i]:offs[i + 1]]) for i in range(n_docs)]
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14])]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def content_hash(table: pa.Table) -> str:
    """SHA-256 over every column's name and values, in column order."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        col = table.column(name).combine_chunks()
        if pa.types.is_string(col.type):
            h.update("\x00".join(col.to_pylist()).encode())
        else:
            h.update(col.to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()[:16]
