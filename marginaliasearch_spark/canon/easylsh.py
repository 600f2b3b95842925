"""EasyLSH 64-bit content fingerprint — the recrawl "is content same" arm.

Bit-exact reimplementation of the reference's locality-sensitive content
hash (ref: code/libraries/easy-lsh/java/nu/marginalia/lsh/EasyLSH.java:12-87
and code/processes/crawling-process/java/nu/marginalia/crawl/retreival/
CrawlDataReference.java:84-121): a naive HTML-tag-stripping scan feeds a
rolling 4-byte window through an avalanche mix into 64 signed counters;
the hash is the counters' sign bits, and two bodies are "the same" when
the hamming distance of their hashes is < 4.

The algorithm is published open source; like canon/murmur.py this module
reproduces its arithmetic (bit-exactness is the requirement).  The scan is
vectorized with numpy — the sequential parts (tag state, rolling window)
become a cumulative-sum mask and a strided 4-byte pack.
"""

from __future__ import annotations

import numpy as np

SAME_HAMMING_LIMIT = 4  # CrawlDataReference.isContentBodySame:84-90


def _hash_int(x: np.ndarray) -> np.ndarray:
    """h(x) = avalanche mix (CrawlDataReference.hashInt:115-121), uint32."""
    x = x.astype(np.uint32)
    with np.errstate(over="ignore"):
        x = ((x >> np.uint32(16)) ^ x) * np.uint32(0x45D9F3B)
        x = ((x >> np.uint32(16)) ^ x) * np.uint32(0x45D9F3B)
        x = (x >> np.uint32(16)) ^ x
    return x


def content_hash(body) -> int:
    """64-bit LSH of a document body (str or bytes).

    Java reads signed bytes cast to char then masks & 0xff — i.e. plain
    unsigned bytes; str input is encoded UTF-8 first.
    """
    if isinstance(body, str):
        body = body.encode("utf-8", errors="replace")
    b = np.frombuffer(body, dtype=np.uint8)
    if b.size == 0:
        return 0

    lt = b == 0x3C  # '<'
    gt = b == 0x3E  # '>'
    # isInTag is a TOGGLE (set by '<', cleared by '>'), not a counter: the
    # state at a text char is decided by the most recent marker before it.
    marker = np.zeros(b.size, dtype=np.int8)
    marker[lt] = 1
    marker[gt] = -1
    pos = np.where(marker != 0, np.arange(b.size), -1)
    last = np.maximum.accumulate(pos)
    in_tag = np.where(last >= 0, marker[np.maximum(last, 0)] == 1, False)
    text_mask = ~lt & ~gt & ~in_tag
    t = b[text_mask]
    if t.size == 0:
        return 0

    # rolling next = (next << 8) | c over the text subsequence: at position j
    # next packs the last 4 text bytes big-endian (zeros before the start).
    padded = np.concatenate((np.zeros(3, dtype=np.uint8), t)).astype(np.uint32)
    nxt = (
        (padded[:-3] << np.uint32(24))
        | (padded[1:-2] << np.uint32(16))
        | (padded[2:-1] << np.uint32(8))
        | padded[3:]
    )
    h = _hash_int(nxt)

    # addHashUnordered: value = 1 - (h & 2);  field mixes one SIGNED shift
    # (h >> 2, arithmetic) with four logical shifts (EasyLSH.java:38-50).
    value = 1 - (h & np.uint32(2)).astype(np.int64)
    signed = h.astype(np.int32)
    field = (
        (signed >> np.int32(2)).astype(np.uint32)
        ^ (h >> np.uint32(8))
        ^ (h >> np.uint32(14))
        ^ (h >> np.uint32(20))
        ^ (h >> np.uint32(26))
    ) & np.uint32(63)

    fields = np.bincount(field, weights=value, minlength=64).astype(np.int64)

    # get(): val = (val << 1) | (field >>> 31)  — sign bit of the int32 counter
    bits = (fields.astype(np.int32) < 0).astype(np.uint8)
    return int.from_bytes(np.packbits(bits).tobytes(), "big")


def hamming(a: int, b: int) -> int:
    return int(bin((a & 0xFFFFFFFFFFFFFFFF) ^ (b & 0xFFFFFFFFFFFFFFFF)).count("1"))


def is_content_body_same(a, b) -> bool:
    """CrawlDataReference.isContentBodySame — hamming(LSH) < 4."""
    return hamming(content_hash(a), content_hash(b)) < SAME_HAMMING_LIMIT


def is_hash_same(lsh_a: int, lsh_b: int) -> bool:
    return hamming(lsh_a, lsh_b) < SAME_HAMMING_LIMIT


def content_hash_signed(body) -> int:
    """Fingerprint as a signed 64-bit int for LongType storage, with 0
    remapped to 1.  An empty/all-markup body legitimately hashes to 0;
    the remap is kept because every stored ``lsh64`` value and the gate
    hashes computed over them were produced with it, so dropping it
    would change persisted crawl data.  The remap costs hamming
    distance ≤1 — well inside the <4 same-document band, so retention
    decisions are unaffected."""
    h = content_hash(body)
    if h == 0:
        h = 1
    return h - (1 << 64) if h >= (1 << 63) else h
