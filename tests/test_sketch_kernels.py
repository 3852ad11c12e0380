"""The batch sketch kernels equal their per-document forms (no Spark):
``minhash.sketch_concat`` against ``sketch_text_bytes``, and
``sketch.batch_band_keys`` / ``sketch.batch_fp128`` against
``compute_band_keys`` / ``sketch_fp128``, on ragged batches."""

import numpy as np
import pytest

from mashspark.minhash import (kmv_set_size, sketch_batch, sketch_concat,
                               sketch_text_bytes)
from mashspark.sketch import (batch_band_keys, batch_fp128, compute_band_keys,
                              sketch_fp128)

K, S, SEED = 21, 64, 42


def _texts():
    rng = np.random.default_rng(5)
    words = ["w%03d" % i for i in range(500)]
    page = " ".join(words[i] for i in rng.integers(0, 500, 300)).encode()
    return [
        b"",
        b"tiny",
        b"x" * K,                                     # exactly one k-mer
        page,
        page + b" " + page,                           # full at min_cov=2
        ("unicode éèê content " * 40).encode("utf-8"),
        b"",
        b"abcdefghijklmnopqrstuvwxyz0123456789 twice " * 2,
        " ".join(words[i] for i in rng.integers(0, 500, 40)).encode(),
    ]


@pytest.mark.parametrize("min_cov,with_counts",
                         [(1, False), (1, True), (2, False), (2, True)])
def test_sketch_concat_matches_per_doc(min_cov, with_counts):
    texts = _texts()
    buf = np.frombuffer(b"".join(texts), dtype=np.uint8)
    sks, n_kmers, cards, counts = sketch_concat(
        buf, [len(t) for t in texts], K, S, SEED, min_cov, with_counts)
    assert len(sks) == len(texts) and (counts is None) == (not with_counts)
    full = 0
    for i, t in enumerate(texts):
        want = sketch_text_bytes(t, K, S, SEED, min_cov=min_cov,
                                 with_counts=with_counts)
        if with_counts:
            want, want_cnt = want
            assert counts[i].dtype == np.int32
            assert np.array_equal(counts[i], want_cnt), i
        assert sks[i].dtype == np.uint64 and np.array_equal(sks[i], want), i
        assert n_kmers[i] == max(len(t) - K + 1, 0), i
        card = kmv_set_size(want) if len(want) >= S else len(want)
        assert cards[i] == card, i
        full += len(want) == S
    assert full >= 1


def test_sketch_batch_is_encode_then_kernel():
    texts = _texts()
    got = sketch_batch([t.decode("utf-8") for t in texts], K, S, SEED)
    sks, n_kmers, cards, _ = sketch_concat(
        np.frombuffer(b"".join(texts), dtype=np.uint8),
        [len(t) for t in texts], K, S, SEED)
    assert len(got) == len(texts)
    for (sk, nk, card), want_sk, want_nk, want_card in zip(
            got, sks, n_kmers, cards):
        assert np.array_equal(sk, want_sk)
        assert (nk, card) == (want_nk, want_card)
    assert sketch_batch([], K, S, SEED) == []


def _ragged_sketches():
    """Sorted distinct uint64 sketches: empty ones, ones shorter than the
    128 prefix, exactly 128, and longer."""
    rng = np.random.default_rng(9)
    sizes = [0, 5, 0, 127, 128, 129, 1000, 1, 0, 300]
    return [np.unique(rng.integers(0, 2**64, size=n, dtype=np.uint64,
                                   endpoint=False))
            for n in sizes]


@pytest.mark.parametrize("prefix", [None, 128])
def test_batch_band_keys_match_per_doc(prefix):
    sks = _ragged_sketches()
    got = batch_band_keys(sks, 32, prefix)
    assert len(got) == len(sks)
    for i, sk in enumerate(sks):
        want = compute_band_keys(sk, 32, prefix).view(np.int64)
        assert got[i].dtype == np.int64 and np.array_equal(got[i], want), i


def test_batch_fp128_matches_per_doc():
    sks = _ragged_sketches()
    fp1, fp2 = batch_fp128(sks)
    assert list(zip(fp1.tolist(), fp2.tolist())) == [sketch_fp128(sk)
                                                     for sk in sks]


def test_batch_kernels_all_empty():
    empty = [np.empty(0, dtype=np.uint64)] * 3
    assert [len(b) for b in batch_band_keys(empty, 32, 128)] == [0, 0, 0]
    fp1, fp2 = batch_fp128(empty)
    assert fp1.tolist() == fp2.tolist() == [0, 0, 0]
