"""Kernel microbenchmarks: the sketch and merge kernels in one process,
without Spark, on a fixed sample of the workload's pages."""

from __future__ import annotations

import statistics
import time

import numpy as np

from mashspark.compare import capped_merge_sorted_batch
from mashspark.hashing import encode_signed, hash_shingles_concat
from mashspark.minhash import bottom_k
from mashspark.params import SketchParams

from .workloads import Corpus

SAMPLE_DOCS = 256
PAIRS_PER_DOC = 8
PREFIX = 128
REPEATS = 5


def _median_time(fn) -> float:
    """Median wall time of ``REPEATS`` calls of ``fn`` after one warm call."""
    fn()
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def run(corpus: Corpus, params: SketchParams) -> dict:
    """{metric: (value, unit)} for the four kernels."""
    k, s, seed = params.k, params.s, params.seed
    ids = sorted(corpus.docs)[:SAMPLE_DOCS]
    bufs = [np.frombuffer(corpus.docs[i].encode(), dtype=np.uint8) for i in ids]
    big = np.concatenate(bufs)
    n_win = len(big) - k + 1
    hash_s = _median_time(lambda: hash_shingles_concat(big, k, seed))

    all_h = hash_shingles_concat(big, k, seed).copy()
    per_doc, off = [], 0
    for b in bufs:
        per_doc.append(all_h[off:off + len(b) - k + 1].copy())
        off += len(b)
    bk_s = _median_time(lambda: [bottom_k(h, s) for h in per_doc])

    sks = [encode_signed(bottom_k(h, s)) for h in per_doc]
    n = len(sks)
    a = [sks[i] for i in range(n) for d in range(1, PAIRS_PER_DOC + 1)]
    b = [sks[(i + d) % n] for i in range(n) for d in range(1, PAIRS_PER_DOC + 1)]
    merge_s = _median_time(lambda: capped_merge_sorted_batch(a, b, s))
    pa_, pb_ = [x[:PREFIX] for x in a], [x[:PREFIX] for x in b]
    prefix_s = _median_time(lambda: capped_merge_sorted_batch(pa_, pb_, PREFIX))
    return {
        "hashing.mwin_per_s": (n_win / hash_s / 1e6, "Mwin/s"),
        "minhash.bottom_k_us_per_doc": (bk_s / len(per_doc) * 1e6, "us/doc"),
        "compare.merge_us_per_pair": (merge_s / len(a) * 1e6, "us/pair"),
        "compare.prefix_merge_us_per_pair": (prefix_s / len(a) * 1e6, "us/pair"),
    }
