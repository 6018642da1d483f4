"""Seeded inputs for the benchmark: ``documents``, ``embeddings`` and
``events`` tables with the test-data schemas, written as parquet.

The same seed always yields byte-identical tables. The program under test
only ever sees these files.

Corpus properties (shares are of the document count):

- ``MEGA_SHARE``: documents whose ``doc_id % 5 == 0``. The source-file
  template routes those to the one ``megacorp/monorepo`` repository, so this
  is the skew.
- ``CHUNK_SHARE``: documents whose ``doc_id % 41 == 13``. The template turns
  those into ~30 KB documents that trip the chunking gate.
- ``REPEAT_SHARE``: documents whose text repeats an earlier document's text
  with `` dup`` appended (near-duplicates for the dedup operators).
- ``repos`` (an argument): how many of the template's 91 other repositories
  (``org{doc_id % 7}/repo{doc_id % 13}``, i.e. ``doc_id % 91``) the rest of
  the documents spread over, evenly. A store keeps each repository in one
  bucket, so this sets how many buckets an ingest touches. The subset is
  the same for every seed: the seed varies the text, not which buckets are
  used.

The seed varies the texts, the order of their lengths, the languages and
which texts repeat. It does not vary the doc ids: the source-file template
derives the repository, the chunk gate and its fuzzy-variant and temporal
injections (``doc_id % 11``, ``% 43``, ...) from them, and a batch of a few
dozen documents that has such an injection on one seed and not on another
runs other code paths. So the ids, each language's count (``LANG_P``) and
the set of text lengths are the same for every seed of a given size, and
runs on different seeds do the same work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark", "query", "table", "merge", "join", "sort", "scan", "filter",
    "window", "hash", "group", "batch", "stream", "vector", "column",
    "order", "value", "customer", "data", "line", "part", "key", "row",
    "small", "fast", "slow", "big", "agg", "the", "a",
)
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
EMB_DIM = 64
N_LABELS = 10
MIN_WORDS, MAX_WORDS = 10, 99  # words per document text
EVENT_DAYS = 30
MEGA_SHARE, CHUNK_SHARE, REPEAT_SHARE = 0.2, 0.005, 0.05
ID_SEED = 0  # picks the doc ids and, when ``repos < 91``, the repository subset

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EMB_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])
EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def _classes(shares, n: int) -> np.ndarray:
    """``n`` class indices, ``round(share * n)`` of each (the first class
    takes the rounding remainder), in order."""
    counts = [round(p * n) for p in shares[1:]]
    return np.repeat(np.arange(len(shares)), [n - sum(counts)] + counts)


def _doc_ids(rng: np.random.Generator, n: int, repo_ids: np.ndarray,
             exclude: set[int]) -> np.ndarray:
    """``n`` distinct doc ids with exactly the requested class counts.
    Chunk-gate documents are never mega-repo documents, so the two shares
    stay independent."""
    n_chunk = round(n * CHUNK_SHARE)
    n_mega = round(n * MEGA_SHARE)
    pool = rng.permutation(1000 * n + 10_000)
    pool = pool[~np.isin(pool, np.fromiter(exclude, dtype=np.int64))]
    is_chunk = pool % 41 == 13
    is_mega = pool % 5 == 0
    keep = is_mega | np.isin(pool % 91, repo_ids)
    pool, is_chunk, is_mega = pool[keep], is_chunk[keep], is_mega[keep]
    chunk = pool[is_chunk & ~is_mega][:n_chunk]
    mega = pool[is_mega & ~is_chunk][:n_mega]
    plain = pool[~is_mega & ~is_chunk]
    n_plain = n - n_chunk - n_mega
    per, extra = divmod(n_plain, len(repo_ids))
    plain = np.concatenate([plain[plain % 91 == r][: per + (i < extra)]
                            for i, r in enumerate(repo_ids)])
    ids = np.concatenate([chunk, mega, plain])
    if len(ids) != n:
        raise ValueError(f"doc-id pool too small for {n} documents")
    return rng.permutation(ids).astype(np.int64)


def documents(seed: int, n: int, *, repos: int = 91,
              exclude: set[int] = frozenset()) -> pd.DataFrame:
    """``n`` documents over the mega-repo and ``repos`` other repositories,
    with no doc id from ``exclude``."""
    rng = np.random.default_rng(seed)
    id_rng = np.random.default_rng(ID_SEED)
    repo_ids = id_rng.choice(91, size=repos, replace=False)
    ids = _doc_ids(id_rng, n, repo_ids, set(exclude))
    lens = rng.permutation(MIN_WORDS + np.arange(n) * (MAX_WORDS - MIN_WORDS + 1) // n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), size=int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    n_rep = round(n * REPEAT_SHARE)
    for i in rng.choice(np.arange(1, n), size=min(n_rep, n - 1), replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": np.asarray(LANGS)[rng.permutation(_classes(LANG_P, n))],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.fromiter((len(t) for t in texts), dtype=np.int64, count=n),
    })


def embeddings(seed: int, n: int) -> pd.DataFrame:
    """Unit-norm 64-d vectors around ``N_LABELS`` weak cluster centres."""
    rng = np.random.default_rng(seed + 1)
    centres = rng.standard_normal((N_LABELS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n).astype(np.int32)
    v = 0.15 * centres[labels] + rng.standard_normal((n, EMB_DIM)) / np.sqrt(EMB_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": labels,
    })


def events(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed + 2)
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000_000, size=n))
    n_users = max(n // 66, 10)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n)],
        "value": np.maximum(np.round(rng.exponential(50.0, size=n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def write(df: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    """Write one table as a single parquet file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)
