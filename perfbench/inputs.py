"""Seeded benchmark inputs, written as parquet before any timing.

Each generator is a pure function of its seed and size. The program
only ever sees the parquet files; ``describe`` records how each file
was made and a digest of its bytes, so two runs on one seed can be
shown to have read the same input.

``events`` and ``documents`` stand in for the driver's sf tables
(TESTDATA.md). Each constant below copies a statistic measured on the
sf0.1 tables: 1,500 users, five equally likely event types, values
exponential with mean 50 (sf0.1 median 34.77, p99 228.1), 100 ``props``
values over 30 days; a 30-word vocabulary, 10-100 tokens per document,
the sf0.1 language mix, 20 sources, and 5 % near-duplicates (a copy of
another document with `` dup`` appended). ``shape.py`` prints these
statistics for both sides; perfbench/README.md lists them.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
N_USERS = 1500
SPAN_US = 30 * 86400 * 1_000_000

DOC_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
NEAR_DUP_RATE = 0.05


def make_events_pdf(n: int, seed: int) -> pd.DataFrame:
    """Event stream over 30 days; ids and start day shift with the seed."""
    rng = np.random.default_rng([seed, 1])
    id0 = int(rng.integers(0, 1_000_000)) * 1000
    day0 = np.datetime64("2024-01-01T00:00:00", "us") + np.timedelta64(
        int(rng.integers(0, 365)), "D"
    )
    offs = np.sort(rng.integers(0, SPAN_US, size=n))
    return pd.DataFrame(
        {
            "event_id": np.arange(id0, id0 + n, dtype=np.int64),
            "ts": day0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, N_USERS, size=n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)],
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def make_documents_pdf(n: int, seed: int) -> pd.DataFrame:
    """Bag-of-words documents of 10-100 tokens; 5 % are near-duplicates."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, size=n)
    words = DOC_VOCAB[rng.integers(0, len(DOC_VOCAB), size=int(lens.sum()))]
    ends = np.cumsum(lens)
    text = np.array(
        [" ".join(words[e - k : e]) for e, k in zip(ends, lens)], dtype=object
    )
    dups = rng.choice(n, size=int(n * NEAR_DUP_RATE), replace=False)
    srcs = rng.integers(0, n, size=len(dups))
    text[dups] = [text[s] + " dup" for s in srcs]
    id0 = int(rng.integers(0, 1_000_000)) * 1000
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": text.astype(str),
            "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": np.char.add("src", (ids % 20).astype("U2")),
            "n_chars": np.char.str_len(text.astype(str)).astype(np.int64),
        }
    )


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def write_table(pdf: pd.DataFrame, path: str, generator: str, seed: int) -> dict:
    """Write ``pdf`` to ``path`` as one parquet file; return its record."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return {
        "path": path,
        "generator": generator,
        "seed": seed,
        "rows": len(pdf),
        "sha256": file_digest(path),
    }


def copy_for_pass(src: str, dst: str) -> str:
    """A byte-identical copy of an input under a new path, so that no
    pass can reuse anything an earlier pass cached under the old plan."""
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.copyfile(src, dst)
    return dst
