"""Seeded inputs. The same seed gives the same bytes; the program receives
only the files written here."""

from __future__ import annotations

import json
import random
from pathlib import Path

import numpy as np
import pandas as pd

from training_datawarehouse_spark.sources.diary_fixture import build_diary_doc

DIARY_DAYS = 730
N_DOCUMENTS = 50
N_EMBEDDINGS = 50
EMBEDDING_DIM = 64

#: Vocabulary and language mix of the sf test tables' documents (TESTDATA.md).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)


def write_diary(path: Path, seed: int) -> dict:
    """FIXTURES.md §A diary document of ``DIARY_DAYS`` consecutive days."""
    doc = build_diary_doc(DIARY_DAYS, seed)
    path.write_text(json.dumps(doc))
    return doc


def write_curation_tables(sf_dir: Path, seed: int) -> None:
    """``documents`` and ``embeddings`` with the schema and value
    distributions of the sf test tables, at a tenth of the sf0.01 row
    counts: the DuckDB oracle of the cross-modal LSH entry takes about
    0.08 s per document on four cores, and it runs once in every run. One
    document in ten repeats an earlier text and one in ten repeats it with
    one word changed, so the exact and near-duplicate stages have pairs to
    find."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        roll = rng.random()
        if i > 0 and roll < 0.1:
            text = texts[rng.randrange(i)]
        elif i > 0 and roll < 0.2:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 100)))
        texts.append(text)
    docs = pd.DataFrame({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choices(LANGS, LANG_WEIGHTS, k=N_DOCUMENTS),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    gen = np.random.default_rng(seed)
    vecs = gen.standard_normal((N_EMBEDDINGS, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": list(vecs),
        "label": gen.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
    })

    sf_dir.mkdir(parents=True, exist_ok=True)
    docs.to_parquet(sf_dir / "documents.parquet", index=False)
    emb.to_parquet(sf_dir / "embeddings.parquet", index=False)
