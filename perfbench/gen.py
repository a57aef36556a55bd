"""Seeded ``documents.parquet`` generator for the benchmark workloads.

Writes the schema of the repository's test-data ``documents.parquet``
``(doc_id, text, lang, source, n_chars)``. The KG workloads read only ``doc_id`` and ``lang`` (all
page content is arithmetic on ``doc_id``); the dedup workload reads
``text``. The shape follows the committed sf0.1 table: a 30-word vocabulary,
8-100 words per document, the language mix below, 20 sources, and a planted
near-duplicate share (a copy of an earlier document's text with `` dup``
appended, as in the testdata). A second planted share rewrites the back half
of an earlier document, so LSH proposes candidates that exact-Jaccard
verification must reject.

The same ``(seed, n_docs)`` always gives byte-identical files; a generated
directory is reused when its marker file is present.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
#: sf0.1 shares: en 2059, zh 753, es 744, fr 742, de 702 of 5000 docs.
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.150, 0.149, 0.148, 0.141]
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 8, 100
#: planted near-duplicates (``text + ' dup'``; Jaccard ≥ 0.8 always holds)
DUP_SHARE = 0.05
#: planted partial copies (front half kept, back half redrawn)
PARTIAL_SHARE = 0.02
DONE_MARKER = "_GENERATED"


def documents(seed: int, n_docs: int) -> pa.Table:
    """The documents table for ``(seed, n_docs)``."""
    rng = np.random.default_rng([seed, n_docs])
    # a seed-chosen id block: different seeds plant different facts, since
    # every fact is a function of doc_id modulo small constants
    base = int(rng.integers(0, 10**7)) * 10
    doc_ids = np.arange(base, base + n_docs, dtype=np.int64)
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    vocab = np.array(VOCAB, dtype=object)
    ends = np.cumsum(n_words)
    texts = [" ".join(vocab[words[e - n:e]]) for e, n in zip(ends, n_words)]

    kind = rng.random(n_docs)
    # the source of a planted copy is any earlier document
    src = (rng.random(n_docs) * np.arange(n_docs)).astype(np.int64)
    for i in np.flatnonzero((kind < DUP_SHARE) & (np.arange(n_docs) > 0)):
        texts[i] = texts[src[i]] + " dup"
    partial = (kind >= DUP_SHARE) & (kind < DUP_SHARE + PARTIAL_SHARE)
    for i in np.flatnonzero(partial & (np.arange(n_docs) > 0)):
        head = texts[src[i]].split(" ")
        keep = len(head) // 2
        tail = rng.integers(0, len(VOCAB), size=len(head) - keep)
        texts[i] = " ".join(head[:keep] + [VOCAB[w] for w in tail])
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{d % N_SOURCES}" for d in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def ensure(root: str, seed: int, n_docs: int) -> str:
    """Return a directory holding ``documents.parquet`` for ``(seed,
    n_docs)``, generating it under ``root`` unless already present."""
    out = os.path.join(root, f"seed{seed}_docs{n_docs}")
    if os.path.exists(os.path.join(out, DONE_MARKER)):
        return out
    os.makedirs(out, exist_ok=True)
    pq.write_table(documents(seed, n_docs), os.path.join(out, "documents.parquet"))
    open(os.path.join(out, DONE_MARKER), "w").close()
    return out
