"""Seeded near-duplicate document corpus for the ``corpus_dedup`` workload.

The shape follows the pathological composition corpus of ``bench.py``:
every document ends in the same boilerplate sentence, and the composition
input is the documents plus a 90 %-prefix copy of each (id + 100000).  The
seed picks the words of each document and which documents get an edited
sibling (one word replaced), so near-dup groups larger than two exist.

Jaccard similarities stay far from the 0.6 threshold on both sides
(planted pairs >= 0.8, unrelated pairs <= 0.35), so the 64-hash MinHash
estimate and the exact DuckDB answer agree on membership.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BOILERPLATE = " copyright example site all rights reserved navigation home about contact"
COPY_ID_OFFSET = 100_000
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def near_dup_documents(seed: int, n_docs: int, sibling_frac: float = 0.1) -> pd.DataFrame:
    """``(doc_id, text)`` with ASCII text that already carries the
    boilerplate suffix.  ``doc_id`` stays below ``COPY_ID_OFFSET`` so the
    prefix copies never collide with an original."""
    if not 0 < n_docs < COPY_ID_OFFSET:
        raise ValueError(f"n_docs must be in (0, {COPY_ID_OFFSET}), got {n_docs}")
    rng = np.random.default_rng([seed, 0xD0C5])
    lengths = rng.integers(3, 10, size=4000)
    vocab = np.array(["".join(rng.choice(_LETTERS, size=n)) for n in lengths])
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()

    bodies: list[list[str]] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < sibling_frac:
            words = list(bodies[int(rng.integers(0, i))])
            words[len(words) // 2] = str(rng.choice(vocab))
        else:
            words = list(rng.choice(vocab, size=int(rng.integers(40, 120)), p=zipf))
        bodies.append(words)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": [" ".join(w) + BOILERPLATE for w in bodies],
        }
    )
