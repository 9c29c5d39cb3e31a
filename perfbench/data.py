"""Seeded input generation.

The benchmark never reads fixture files from outside its checkout, so it
generates sf0.1-shaped inputs itself (TESTDATA.md): an ``events`` table
(100,000 rows, the schema of the fixture ``events.parquet``) and a
``documents`` table (5,000 docs over a 30-word vocabulary with exact and
near duplicates, the shape of ``documents.parquet``). The same seed gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_DOCS = 5_000
#: events span 2024-01-01 .. 2024-01-31 (the engine's pinned ``now``)
EVENTS_START_US = 1_704_067_200_000_000
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def events_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    # distinct sorted microsecond stamps: `ORDER BY _ts` has no ties
    ts = np.sort(rng.choice(EVENTS_SPAN_US, size=N_EVENTS, replace=False))
    ts = ts + EVENTS_START_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, N_EVENTS, dtype=np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, N_EVENTS)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
            ),
        }
    )


def documents_table(seed: int) -> pa.Table:
    """Random word texts (10-100 words). 5% of docs are near duplicates of
    an earlier doc (a few words replaced, ``dup`` appended) and 0.5% are
    exact copies, so both dedup operators find real clusters."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 0 and r < 0.005:
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and r < 0.055:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(
                np.array(LANGS, dtype=object)[rng.choice(5, N_DOCS, p=LANG_P)]
            ),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


TABLES = {"events": events_table, "documents": documents_table}


def write_inputs(data_dir: str, seed: int, tables=tuple(TABLES)) -> None:
    """Write ``<table>.parquet`` into ``data_dir`` for each named table."""
    os.makedirs(data_dir, exist_ok=True)
    for name in tables:
        pq.write_table(TABLES[name](seed), os.path.join(data_dir, f"{name}.parquet"))
