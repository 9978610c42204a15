"""Seeded generator of the ``documents`` table the analytics leaves read
(``doc_id, text, lang, source, n_chars``, the columns of the sf test
tables), so the ``q`` layer's analytics leaves need no data from outside
the checkout.

Texts mix common words with a long tail of rare terms, so unrelated
documents share few shingles; a share of documents are exact
copies (whitespace and case changed) or near-copies (one word replaced) of
an earlier document, so the exact and MinHash dedup leaves find
real duplicates. Sources are skewed: src0 and src1 (the hot hosts of the
derived web view) hold about a quarter of the documents each.
"""

from __future__ import annotations

import os
import random

VOCAB = (
    "the a of and to in is fast slow key order sort table scan merge part window "
    "small big hash join batch stream spark group query row data filter customer "
    "line value agg column vector crawl frontier host page link seen round budget "
    "schedule archive record index shuffle spill task stage plan cache bloom"
).split()
N_RARE = 4000
LANGS = ("en", "fr", "es", "zh", "de")
N_SOURCES = 20


def make_documents(n: int, seed: int) -> dict:
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.04:
            # exact duplicate up to whitespace and case
            texts.append("  " + texts[rng.randrange(i)].upper().replace(" ", "  "))
        elif i >= 10 and r < 0.14:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words))
        else:
            # mostly rare terms and at least 30 words: two unrelated
            # documents share too few shingles to pass MinHash verification
            # in either hash mode
            texts.append(" ".join(
                rng.choice(VOCAB) if rng.random() < 0.3 else f"t{rng.randrange(N_RARE)}"
                for _ in range(rng.randint(30, 120))
            ))
    sources = [
        f"src{s}" for s in (
            0 if r < 0.25 else 1 if r < 0.5 else rng.randrange(2, N_SOURCES)
            for r in (rng.random() for _ in range(n))
        )
    ]
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": sources,
        "n_chars": [len(t) for t in texts],
    }


def write_documents(n: int, seed: int, sf_dir: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    cols = make_documents(n, seed)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.table(cols, schema=schema), path)
    return path
