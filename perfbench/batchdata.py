"""Seeded input tables for ``batch_headline``: ``documents`` and
``events`` shaped like the engine's sf0.01 test tables — 500 documents
of 10-99 words from a 30-word vocabulary, 5% of them planted
near-duplicates (another document's text plus " dup", so chains of
duplicates occur), and 10,000 events over 150 users and 30 days with
exponentially distributed values (mean 50). The same seed always
writes the same files."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
DUP_SHARE = 0.05


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write both tables as ``{out_dir}/{name}.parquet``; returns
    row counts. ``scale`` multiplies every row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_docs = max(20, int(500 * scale))
    n_events = max(200, int(10_000 * scale))
    n_users = max(10, int(150 * scale))

    texts = []
    for _ in range(n_docs):
        words = rng.choice(VOCAB, size=int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    # each planted duplicate copies the current text of another document,
    # which may itself be a duplicate
    for i in rng.choice(n_docs, size=max(1, int(n_docs * DUP_SHARE)), replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n_events)) + 1_704_067_200_000_000
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n_events), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_events), pa.string()),
            "value": pa.array(
                np.maximum(0.01, np.round(rng.exponential(50.0, size=n_events), 2)),
                pa.float64(),
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
                pa.string(),
            ),
        }
    )
    for name, t in (("documents", docs), ("events", events)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"documents": n_docs, "events": n_events}
