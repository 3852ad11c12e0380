"""Golden-parity tests against the reference's own fixtures.

These prove the numpy core is bit-exact with marbl/Mash:

* sketch parity: re-sketch test/reads1.fastq + reads2.fastq (the raw inputs
  ARE in the reference snapshot) at k=21,s=1000,seed=42,canonical and match
  all 1000 hashes + the KMV length of test/ref/reads.json
  (produced by ``Makefile.in:106-107``).
* dist parity: recompute every row of test/ref/genomes.dist from the golden
  sketches (genome FASTAs are stripped from the snapshot, but their full
  bottom-k sketches survive in test/ref/genomes.json).
* murmur3 self-checks against the published reference vectors.
"""

import math
import os

import numpy as np
import pytest

from mashspark import compare, dna, hashing, minhash
from tests.conftest import REF, golden_sketch, requires_reference

K, S, SEED = 21, 1000, 42
KMER_SPACE = 4.0**21  # ACGT alphabet (Sketch.cpp:58-61)


# ---------------------------------------------------------------------------
# murmur3 unit vectors
# ---------------------------------------------------------------------------


def _mmh3_ref(data: bytes, seed: int) -> int:
    """Tiny scalar MurmurHash3_x64_128 h1 in pure python (independent of the
    numpy implementation) for cross-checking."""
    import struct

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & 0xFFFFFFFFFFFFFFFF

    def fmix(k):
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & 0xFFFFFFFFFFFFFFFF
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & 0xFFFFFFFFFFFFFFFF
        k ^= k >> 33
        return k

    M = 0xFFFFFFFFFFFFFFFF
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    h1 = h2 = seed
    nblocks = len(data) // 16
    for i in range(nblocks):
        k1, k2 = struct.unpack_from("<QQ", data, i * 16)
        k1 = (k1 * c1) & M
        k1 = rotl(k1, 31)
        k1 = (k1 * c2) & M
        h1 ^= k1
        h1 = rotl(h1, 27)
        h1 = (h1 + h2) & M
        h1 = (h1 * 5 + 0x52DCE729) & M
        k2 = (k2 * c2) & M
        k2 = rotl(k2, 33)
        k2 = (k2 * c1) & M
        h2 ^= k2
        h2 = rotl(h2, 31)
        h2 = (h2 + h1) & M
        h2 = (h2 * 5 + 0x38495AB5) & M
    tail = data[nblocks * 16 :]
    k1 = k2 = 0
    for i in range(len(tail) - 1, 7, -1):
        k2 |= tail[i] << (8 * (i - 8))
    if len(tail) > 8:
        k2 = (k2 * c2) & M
        k2 = rotl(k2, 33)
        k2 = (k2 * c1) & M
        h2 ^= k2
    for i in range(min(len(tail), 8) - 1, -1, -1):
        k1 |= tail[i] << (8 * i)
    if tail:
        k1 = (k1 * c1) & M
        k1 = rotl(k1, 31)
        k1 = (k1 * c2) & M
        h1 ^= k1
    h1 ^= len(data)
    h2 ^= len(data)
    h1 = (h1 + h2) & M
    h2 = (h2 + h1) & M
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & M
    return h1


@pytest.mark.parametrize(
    "data",
    [b"", b"a", b"abcdefgh", b"abcdefghi", b"0123456789abcdef",
     b"0123456789abcdefX", b"ACGTACGTACGTACGTACGTA", b"x" * 64, b"y" * 77],
)
@pytest.mark.parametrize("seed", [0, 42, 12345])
def test_murmur3_matches_independent_impl(data, seed):
    if len(data) == 0:
        got = hashing.murmur3_x64_128_h1(np.zeros((1, 0), dtype=np.uint8), seed)[0]
    else:
        got = hashing.murmur3_x64_128_h1_bytes(data, seed)
    assert int(got) == _mmh3_ref(data, seed)


def test_hash_shingles_concat_matches_scalar():
    rng = np.random.default_rng(0)
    buf = rng.integers(0, 256, size=200, dtype=np.uint8).astype(np.uint8)
    h = hashing.hash_shingles_concat(buf, K, SEED)
    for i in [0, 1, 50, len(h) - 1]:
        assert int(h[i]) == _mmh3_ref(bytes(buf[i : i + K]), SEED)


def test_signed_codec_roundtrip_and_order():
    rng = np.random.default_rng(1)
    u = rng.integers(0, 2**64, size=1000, dtype=np.uint64)
    s = hashing.encode_signed(u)
    assert np.array_equal(hashing.decode_signed(s), u)
    # signed order of encoded == unsigned order of raw
    assert np.array_equal(np.argsort(s, kind="stable"), np.argsort(u, kind="stable"))


# ---------------------------------------------------------------------------
# sketch parity: reads.json end-to-end from raw FASTQ bytes
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def reads_sketch(reads_golden):
    paths = [os.path.join(REF, "test", f) for f in ("reads1.fastq", "reads2.fastq")]
    hashes = dna.hash_fastq_files(paths, K, SEED)
    sk = minhash.bottom_k(hashes, S)
    return sk


@requires_reference
def test_reads_sketch_bit_exact(reads_sketch, reads_golden):
    golden = golden_sketch(reads_golden, 0)
    assert len(reads_sketch) == len(golden) == S
    assert np.array_equal(reads_sketch, golden)


@requires_reference
def test_reads_kmv_length(reads_sketch, reads_golden):
    assert minhash.kmv_set_size(reads_sketch) == reads_golden["sketches"][0]["length"]


# ---------------------------------------------------------------------------
# dist parity: genomes.dist rows from golden sketches
# ---------------------------------------------------------------------------


def _golden_dist_rows():
    rows = []
    with open(os.path.join(REF, "test", "ref", "genomes.dist")) as f:
        for line in f:
            ref, qry, dist, pval, shared = line.split("\t")
            common, denom = shared.strip().split("/")
            rows.append((ref, qry, float(dist), float(pval), int(common), int(denom)))
    return rows


@requires_reference
def test_dist_goldens(genomes_golden, reads_golden):
    reads = golden_sketch(reads_golden, 0)
    reads_len = reads_golden["sketches"][0]["length"]
    by_name = {s["name"]: i for i, s in enumerate(genomes_golden["sketches"])}
    for ref_name, _qry, dist_g, pval_g, common_g, denom_g in _golden_dist_rows():
        gi = by_name[ref_name]
        gsk = golden_sketch(genomes_golden, gi)
        glen = genomes_golden["sketches"][gi]["length"]
        common, denom = compare.capped_merge(gsk, reads, S)
        assert (common, denom) == (common_g, denom_g), ref_name
        dist = float(compare.mash_distance(common, denom, K))
        assert math.isclose(dist, dist_g, abs_tol=5e-6), ref_name
        p = float(compare.pvalue_dist(common, glen, reads_len, KMER_SPACE, S)[0])
        assert math.isclose(p, pval_g, rel_tol=5e-5), (ref_name, p, pval_g)


def test_capped_merge_properties():
    rng = np.random.default_rng(2)
    pool = rng.integers(0, 2**63, size=5000, dtype=np.uint64)
    a = np.unique(rng.choice(pool, 1500, replace=False))[:S]
    b = np.unique(rng.choice(pool, 1500, replace=False))[:S]
    common, denom = compare.capped_merge(a, b, S)
    assert denom == S
    # reference two-pointer loop, transliterated, as an independent oracle
    i = j = c = d = 0
    while d < S and i < len(a) and j < len(b):
        if a[i] < b[j]:
            i += 1
        elif b[j] < a[i]:
            j += 1
        else:
            i += 1
            j += 1
            c += 1
        d += 1
    if d < S:
        d = min(S, d + (len(a) - i) + (len(b) - j))
    assert (common, denom) == (c, d)


def test_capped_merge_batch_bit_exact():
    """Vectorized batch merge == scalar reference on random ragged pairs,
    including the sentinel-collision fallback and empty sketches."""
    from mashspark.hashing import decode_signed, encode_signed

    rng = np.random.default_rng(11)
    arrs_a, arrs_b, expect = [], [], []
    for _ in range(200):
        la, lb = rng.integers(0, 1300, size=2)
        pool = rng.integers(0, 4000, size=3000, dtype=np.uint64) * np.uint64(2**50)
        a = np.unique(rng.choice(pool, la, replace=False)) if la else np.empty(0, np.uint64)
        b = np.unique(rng.choice(pool, lb, replace=False)) if lb else np.empty(0, np.uint64)
        expect.append(compare.capped_merge(a, b, S))
        arrs_a.append(np.sort(encode_signed(a)))
        arrs_b.append(np.sort(encode_signed(b)))
    # a pair whose signed view contains the padding sentinel
    pad = np.iinfo(np.int64).max
    arrs_a.append(np.array([1, 5, pad], dtype=np.int64))
    arrs_b.append(np.array([5, 9], dtype=np.int64))
    expect.append(compare.capped_merge(
        decode_signed(arrs_a[-1]), decode_signed(arrs_b[-1]), S))
    common, denom = compare.capped_merge_sorted_batch(arrs_a, arrs_b, S)
    for i, (c, d) in enumerate(expect):
        assert (common[i], denom[i]) == (c, d), i
    c0, d0 = compare.capped_merge_sorted_batch([], [], S)
    assert len(c0) == 0 and len(d0) == 0


def test_capped_merge_batch_scratch_reuse():
    """The batch merge's per-worker scratch pool must not leak state
    between calls: a small batch following a large one runs on a sliced
    view of the big buffer (stale values beyond the slice), and varied
    sketch_size changes the rank threshold per call."""
    from mashspark.hashing import decode_signed

    rng = np.random.default_rng(23)
    for trial in range(30):
        n = int(rng.integers(1, 40))
        s = int(rng.integers(1, 50))
        arrs_a, arrs_b = [], []
        for _ in range(n):
            la, lb = rng.integers(0, 60, size=2)
            pool = rng.integers(-90, 90, size=200).astype(np.int64)
            a = np.unique(pool[:120])[:la]
            b = np.unique(pool[80:])[:lb]
            arrs_a.append(np.sort(a))
            arrs_b.append(np.sort(b))
        common, denom = compare.capped_merge_sorted_batch(arrs_a, arrs_b, s)
        for i in range(n):
            exp = compare.capped_merge_sorted(
                decode_signed(arrs_a[i]), decode_signed(arrs_b[i]), s)
            assert (common[i], denom[i]) == exp, (trial, i, s)


def test_identity_and_bounds():
    assert float(compare.identity(44, 1000, K)) == pytest.approx(0.861792, abs=1e-6)
    assert compare.error_bound(1000) == pytest.approx(0.0316227766)


def test_contain_batch_matches_scalar_core():
    """The contain_udf batch path (searchsorted used + uncapped batch
    merge) == contain_sketches scalar core on random ragged pairs."""
    from mashspark.hashing import encode_signed

    rng = np.random.default_rng(5)
    for _ in range(100):
        la, lb = rng.integers(0, 900, size=2)
        pool = rng.integers(0, 3000, size=2500, dtype=np.uint64) * np.uint64(2**40)
        r = np.unique(rng.choice(pool, la, replace=False)) if la else np.empty(0, np.uint64)
        q = np.unique(rng.choice(pool, lb, replace=False)) if lb else np.empty(0, np.uint64)
        exp = compare.contain_sketches(r, q)
        rs, qs = np.sort(encode_signed(r)), np.sort(encode_signed(q))
        if len(rs) == 0 or len(qs) == 0:
            got = (0, 0)
        else:
            u = min(min(len(rs), len(qs)),
                    int(np.searchsorted(qs, rs[-1], side="right")))
            c, _ = compare.capped_merge_sorted_batch([rs], [qs[:u]], 1 << 30)
            got = (int(c[0]), u)
        assert got == exp


def test_hash_shingles_concat_u64_kernel_matches_window_matrix():
    """Round-6 kernel rewrite guard: the unaligned-u64-load shingle hasher
    must stay bit-identical to the reference per-window murmur across k
    values covering every block/tail combination (tail 0..15, 1 and 2
    blocks), tiny buffers, and chunk boundaries."""
    rng = np.random.default_rng(11)
    for k in [1, 2, 5, 7, 8, 9, 15, 16, 17, 21, 24, 31, 32, 33, 40, 48, 53]:
        buf = rng.integers(0, 256, size=3000, dtype=np.uint8)
        got = hashing.hash_shingles_concat(buf, k, SEED).copy()
        windows = np.lib.stride_tricks.sliding_window_view(buf, k)
        ref = hashing.murmur3_x64_128_h1(np.ascontiguousarray(windows), SEED)
        assert np.array_equal(got, ref), f"k={k}"
    # tiny buffers around n <= 0 and the pad boundary
    for n in range(0, 40):
        buf = rng.integers(0, 256, size=n, dtype=np.uint8)
        got = hashing.hash_shingles_concat(buf, 21, SEED).copy()
        assert len(got) == max(0, n - 20)
        if len(got):
            windows = np.lib.stride_tricks.sliding_window_view(buf, 21)
            ref = hashing.murmur3_x64_128_h1(
                np.ascontiguousarray(windows), SEED)
            assert np.array_equal(got, ref)
    # chunk-boundary crossing (chunk_windows smaller than n)
    buf = rng.integers(0, 256, size=5000, dtype=np.uint8)
    a = hashing.hash_shingles_concat(buf, 21, SEED, chunk_windows=128).copy()
    b = hashing.hash_shingles_concat(buf, 21, SEED).copy()
    assert np.array_equal(a, b)
