"""Reference answers for the ``corpus_dedup`` workload, in numpy.

These follow the specification of the DuckDB oracles in
``marginaliasearch_spark/oracle/sqlgen.py`` (``compose_keepset_sql`` and
``simhash_allpairs_sql``) step by step, without the engine's code: exact
char-5-gram Jaccard over the documents and their 90 %-prefix copies,
connected components, keep-best by length then lowest id; and SimHash over
distinct 4-byte shingles with a brute-force all-pairs Hamming scan.

The SQL oracles need minutes on the benchmark's corpus because the shared
boilerplate makes their shingle self-join quadratic; these take about a
second.  The self-test checks that both give the same answer on a small
corpus.
"""

from __future__ import annotations

import numpy as np

from .corpus import COPY_ID_OFFSET

SHINGLE_BASE = 1099511628211  # polynomial base of the SimHash shingle hash
FMIX_C1 = 0xFF51AFD7ED558CCD


def composition_inputs(docs: list[tuple[int, str]]) -> list[tuple[int, str]]:
    """Documents plus a 90 %-prefix copy of each, as the workload feeds
    ``compose_training_set``."""
    copies = [(i + COPY_ID_OFFSET, t[: int(len(t) * 0.9)]) for i, t in docs]
    return list(docs) + copies


def _gram_keys(text: str, k: int) -> np.ndarray:
    """Distinct k-char grams of ASCII text as exact integers (k <= 8)."""
    data = np.frombuffer(text.encode("ascii"), dtype=np.uint8).astype(np.uint64)
    if len(data) < k:
        return np.array([int.from_bytes(text.encode("ascii"), "big")], dtype=np.uint64)
    keys = np.zeros(len(data) - k + 1, dtype=np.uint64)
    for j in range(k):
        keys = (keys << np.uint64(8)) | data[j : len(data) - k + 1 + j]
    return np.unique(keys)


def _intersections(grams: list[np.ndarray], hot_df: int = 48) -> np.ndarray:
    """``inter[a, b]`` = number of grams documents a and b share.  Grams
    held by many documents (the boilerplate) go through one matrix
    product; the rest add their few pairs directly."""
    n = len(grams)
    doc = np.repeat(np.arange(n), [len(g) for g in grams])
    _, gid = np.unique(np.concatenate(grams), return_inverse=True)
    df = np.bincount(gid)
    hot = df[gid] >= hot_df
    hot_ids, hot_col = np.unique(gid[hot], return_inverse=True)
    h = np.zeros((n, len(hot_ids)), dtype=np.float32)
    h[doc[hot], hot_col] = 1.0
    inter = (h @ h.T).round().astype(np.int64)

    order = np.argsort(gid, kind="stable")
    doc_sorted, gid_sorted = doc[order], gid[order]
    starts = np.searchsorted(gid_sorted, np.arange(len(df)))
    for size in range(2, hot_df):
        first = starts[df == size]
        if not len(first):
            continue
        members = doc_sorted[first[:, None] + np.arange(size)]  # (grams, size)
        i, j = np.triu_indices(size, 1)
        np.add.at(inter, (members[:, i].ravel(), members[:, j].ravel()), 1)
    inter = np.triu(inter, 1)
    return inter + inter.T


def keep_set(docs: list[tuple[int, str]], threshold: float = 0.6) -> set[int]:
    """Ids kept by near-dup composition of ``composition_inputs(docs)``."""
    rows = composition_inputs(docs)
    n = len(rows)
    ids = np.array([i for i, _ in rows], dtype=np.int64)
    lengths = np.array([len(t) for _, t in rows], dtype=np.int64)
    grams = [_gram_keys(t.lower(), 5) for _, t in rows]
    sizes = np.array([len(g) for g in grams], dtype=np.int64)
    inter = _intersections(grams)

    a, b = np.triu_indices(n, 1)
    common = inter[a, b]
    hit = common / (sizes[a] + sizes[b] - common) >= threshold

    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(a[hit].tolist(), b[hit].tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    best: dict[int, tuple[int, int]] = {}
    for d in range(n):
        root = find(d)
        cand = (-int(lengths[d]), int(ids[d]))
        if root not in best or cand < best[root]:
            best[root] = cand
    return {doc_id for _, doc_id in best.values()}


def simhash(text: str, salt: int) -> int:
    """Signed 64-bit SimHash of lowercased ASCII text."""
    data = np.frombuffer(text.lower().encode("ascii"), dtype=np.uint8).astype(np.uint64)
    base = np.uint64(SHINGLE_BASE)
    with np.errstate(over="ignore"):
        if len(data) < 4:
            data = np.concatenate([data, np.full(4 - len(data), 32, dtype=np.uint64)])
        h = (
            data[:-3] * (base * base * base)
            + data[1:-2] * (base * base)
            + data[2:-1] * base
            + data[3:]
        )
        x = np.unique(h) * np.uint64(salt)
        x ^= x >> np.uint64(33)
        x *= np.uint64(FMIX_C1)
        x ^= x >> np.uint64(29)
    ones = ((x[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).sum(axis=0)
    sig = sum(1 << j for j in range(64) if ones[j] * 2 > len(x))
    return sig - (1 << 64) if sig >= 1 << 63 else sig


def simhash_pairs(docs: list[tuple[int, str]], salt: int, max_hamming: int = 3):
    """``(id_a, id_b, hamming)`` over the documents plus a `` x``-suffixed
    copy of each, for every pair within ``max_hamming`` bits."""
    rows = list(docs) + [(i + COPY_ID_OFFSET, t + " x") for i, t in docs]
    ids = np.array([i for i, _ in rows], dtype=np.int64)
    sig = np.array([simhash(t, salt) for _, t in rows], dtype=np.int64).view(np.uint64)
    out = set()
    for k in range(len(rows)):
        x = sig[k] ^ sig[k + 1 :]
        dist = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
        for j in np.nonzero(dist <= max_hamming)[0]:
            a, b = sorted((int(ids[k]), int(ids[k + 1 + j])))
            out.add((a, b, int(dist[j])))
    return out
