"""Seeded synthetic inputs with the schemas and value distributions of the
project's ``events``, ``documents`` and ``embeddings`` fixture tables at
scale factor 0.1.  The README lists the fixture statistics each generator
copies, as measured from the fixture files.

Everything is generated in memory from one ``numpy`` generator, so the same
seed gives byte-identical tables and a different seed gives different ones.
Every table fits in memory; the largest, ``events``, is a few MB.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EMBED_DIM = 64


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated data set."""

    events: int
    documents: int
    embeddings: int


def events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``events`` rows: ids ``0..n-1``; monotone, tz-naive microsecond
    ``ts`` over 30 days with exponential gaps; ``user_id`` uniform over
    ``1.5%`` of ``n`` users; uniform ``event_type``; exponential ``value``
    with mean 50 (2 decimals); ``props`` ``{"k": 0..99}``."""
    gaps = rng.exponential(30 * 86400e6 / n, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(1, n * 3 // 200), n, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _text(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB, int(rng.integers(lo, hi + 1))))


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``documents`` rows of 10-100 tokens (uniform) drawn uniformly from
    the fixture vocabulary."""
    texts = [_text(rng, 10, 100) for _ in range(n)]
    return _documents_frame(texts, rng)


def _documents_frame(texts: list[str], rng: np.random.Generator) -> pd.DataFrame:
    n = len(texts)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def dedup_corpus(
    rng: np.random.Generator, n_docs: int, n_chains: int, chain_len: int
) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """``n_docs`` random documents plus ``n_chains`` planted near-duplicate
    chains of ``chain_len`` documents each.  Each chain starts from a copy of
    a random 60-100-token document and every next link replaces one token of
    the previous link, so neighbours are near-duplicates (3-shingle Jaccard
    about 0.9) while chain ends drift apart: connected components needs
    several rounds to join a chain.  Returns the frame and the planted
    neighbour pairs ``(lower id, higher id)``."""
    texts = [_text(rng, 10, 100) for _ in range(n_docs)]
    planted: list[tuple[int, int]] = []
    for _ in range(n_chains):
        toks = _text(rng, 60, 100).split()
        prev = len(texts)
        texts.append(" ".join(toks))
        for _ in range(chain_len - 1):
            toks = list(toks)
            toks[int(rng.integers(len(toks)))] = "dup"
            texts.append(" ".join(toks))
            planted.append((prev, len(texts) - 1))
            prev = len(texts) - 1
    return _documents_frame(texts, rng), planted


def embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Unit-norm 64-d float vectors drawn uniformly from the sphere, with a
    uniform label in 0..9 independent of the vector."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels,
        }
    )


def generate(seed: int, sizes: Sizes) -> dict[str, pd.DataFrame]:
    """All tables of one data set, from one seed."""
    rng = np.random.default_rng(seed)
    return {
        "events": events(rng, sizes.events),
        "documents": documents(rng, sizes.documents),
        "embeddings": embeddings(rng, sizes.embeddings),
    }


def write_parquet(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, as the fixtures are laid out."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(list(df["embedding"]), type=pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
