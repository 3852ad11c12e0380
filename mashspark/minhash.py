"""Bottom-k distinct MinHash sketching — the numpy core (no Spark).

Semantics match the reference heap (marbl/Mash
``src/mash/MinHashHeap.cpp:68-146``): keep the ``s`` SMALLEST DISTINCT
64-bit hashes seen; with ``min_cov > 1`` a hash only enters once observed
``min_cov`` times (``MinHashHeap.cpp:96-118``); multiplicities of surviving
hashes are tracked (``HashSet.cpp:48-76``). The streaming heap is replaced
by batch ``np.unique`` + slice — identical result, since bottom-k of a
multiset does not depend on arrival order, and a document's shingles never
leave one Arrow batch (no shuffle).

Also the KMV cardinality estimator ``2**64 * size / max_hash``
(``MinHashHeap.h:45`` ``estimateSetSize``), which the reference uses both
for reads-mode sketch "length" (``Sketch.cpp:1272-1282``) and screen's
mixture set size (``CommandScreen.cpp:322``).
"""

from __future__ import annotations

import numpy as np

from .hashing import hash_shingles_concat


def bottom_k(hashes: np.ndarray, s: int, min_cov: int = 1,
             with_counts: bool = False):
    """Bottom-k distinct of a uint64 hash multiset.

    Returns sorted-ascending uint64 array of <= s distinct hashes
    (MinHashHeap::tryInsert + HashSet::toHashList, sorted per
    ``HashList.cpp:59-69``). With ``with_counts`` also returns the
    multiplicity of each surviving hash (reference ``-M``, A2).
    """
    hashes = np.asarray(hashes, dtype=np.uint64)
    if with_counts or min_cov > 1:
        uniq, counts = np.unique(hashes, return_counts=True)
        if min_cov > 1:
            keep = counts >= min_cov
            uniq, counts = uniq[keep], counts[keep]
        uniq, counts = uniq[:s], counts[:s]
        return (uniq, counts.astype(np.int32)) if with_counts else uniq
    # common path (min_cov=1, no counts), inlined sort+dedupe: np.unique's
    # wrapper (flatten, kwargs dispatch, mask allocation) costs ~20 us/call
    # of pure python per document on top of the sort — half the measured
    # bottom_k budget at web-doc sizes (round-6 profile)
    n = len(hashes)
    if n == 0:
        return hashes.copy()
    h = np.sort(hashes)
    keep = np.empty(n, dtype=bool)
    keep[0] = True
    np.not_equal(h[1:], h[:-1], out=keep[1:])
    return h[keep][:s]


def kmv_set_size(sketch: np.ndarray) -> int:
    """KMV distinct-element estimate from a bottom-k sketch.

    ``pow(2, 64) * size / max`` truncated to integer exactly as the
    reference prints it (``MinHashHeap.h:45``, double math).
    """
    sketch = np.asarray(sketch, dtype=np.uint64)
    if len(sketch) == 0:
        return 0
    return int(2.0**64 * float(len(sketch)) / float(sketch[-1]))


def sketch_text_bytes(data: bytes, k: int, s: int, seed: int,
                      min_cov: int = 1, with_counts: bool = False):
    """Sketch a single byte string (text mode: no alphabet filter /
    canonicalization — those are DNA-only, see ``dna.py``)."""
    buf = np.frombuffer(data, dtype=np.uint8)
    h = hash_shingles_concat(buf, k, seed)
    return bottom_k(h, s, min_cov=min_cov, with_counts=with_counts)


def sketch_concat(buf: np.ndarray, lens, k: int, s: int, seed: int,
                  min_cov: int = 1, with_counts: bool = False):
    """Sketch a batch of documents laid end to end in one uint8 buffer.

    The one sketch kernel: every caller that sketches more than a single
    byte string comes through here. ``lens`` holds each document's byte
    length. ONE murmur pass hashes every window of the concatenation; each
    document's bottom-k reads only its own ``len - k + 1`` windows (the k-1
    windows that straddle a boundary fall past the end of each segment).
    Documents shorter than k get an empty sketch and 0 k-mers (the
    reference skips such records, ``Sketch.cpp:337-341``).

    Returns ``(sketches, n_kmers, card_est, counts)``: a list of uint64
    arrays, two int64 arrays, and with ``with_counts`` a list of int32
    multiplicities aligned with the sketches (else None). ``card_est`` is
    the KMV estimate of a full sketch and the exact distinct count of a
    partial one.
    """
    lens = np.asarray(lens, dtype=np.int64)
    n_kmers = np.maximum(lens - (k - 1), 0)
    starts = np.cumsum(lens) - lens
    all_h = hash_shingles_concat(buf, k, seed)
    sketches, cards = [], []
    counts = [] if with_counts else None
    for lo, nk in zip(starts.tolist(), n_kmers.tolist()):
        got = bottom_k(all_h[lo : lo + nk], s, min_cov=min_cov,
                       with_counts=with_counts)
        if with_counts:
            sk, cnt = got
            counts.append(cnt)
        else:
            sk = got
        sketches.append(sk)
        cards.append(kmv_set_size(sk) if len(sk) >= s else len(sk))
    return sketches, n_kmers, np.array(cards, dtype=np.int64), counts


def sketch_batch(texts, k: int, s: int, seed: int, min_cov: int = 1):
    """Sketch a batch of python/bytes strings: UTF-8 encode, concatenate,
    ``sketch_concat``.

    Returns list of (sketch uint64[<=s], n_kmers int, n_distinct_est int).
    """
    data = [t if isinstance(t, (bytes, bytearray)) else str(t).encode("utf-8")
            for t in texts]
    sketches, n_kmers, cards, _ = sketch_concat(
        np.frombuffer(b"".join(data), dtype=np.uint8), [len(b) for b in data],
        k, s, seed, min_cov)
    return list(zip(sketches, n_kmers.tolist(), cards.tolist()))
