"""Vectorized MurmurHash3_x64_128 (h1 lane) + unsigned<->signed codecs.

Byte-compatible reimplementation of the reference hash
(marbl/Mash ``src/mash/hash.cpp:10-38``: ``getHash`` runs
``MurmurHash3_x64_128(seq, len, seed, data)`` and keeps the FIRST 8 bytes —
the little-endian ``h1`` lane — as the 64-bit hash; the murmur3 rounds are
``src/mash/MurmurHash3.cpp:255-332``). The reference uses 64-bit hashes
whenever ``alphabet_size**k > 2**32`` (``Sketch.cpp:1136``); for web text the
alphabet is all bytes so we are always 64-bit.

Everything here is pure numpy over ``uint64`` (wrap-around arithmetic is
native), so a whole Arrow batch of shingles is hashed with no per-row Python
— this is the hot loop of the sketcher and the reason sketching stays
map-only / linearly scalable on a cluster.

Signed encoding: Spark's LongType is signed while Mash orders hashes
unsigned (``hash.cpp:40-50``). We store ``hash XOR 2**63`` reinterpreted as
int64 at rest so Spark-native ``sort_array``/``min``/join ordering equals
unsigned ordering (SURVEY.md §1.2 decision (a)).
"""

from __future__ import annotations

import sys

import numpy as np

assert sys.byteorder == "little", "murmur3 block loads assume little-endian"

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_F1 = np.uint64(0xFF51AFD7ED558CCD)
_F2 = np.uint64(0xC4CEB9FE1A85EC53)
_SIGN = np.uint64(0x8000000000000000)
_U5 = np.uint64(5)
_U27 = np.uint64(27)
_U31 = np.uint64(31)
_U33 = np.uint64(33)
_U64 = np.uint64(64)
_ADD1 = np.uint64(0x52DCE729)
_ADD2 = np.uint64(0x38495AB5)


def _rotl64(x: np.ndarray, r: np.uint64) -> np.ndarray:
    return (x << r) | (x >> (_U64 - r))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> _U33)
    k = k * _F1
    k = k ^ (k >> _U33)
    k = k * _F2
    k = k ^ (k >> _U33)
    return k


def murmur3_x64_128_both(rows: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Both 64-bit lanes (h1, h2) of MurmurHash3_x64_128
    (``MurmurHash3.cpp:255-332``) per row of a (n, L) uint8 matrix — used
    as a 128-bit fingerprint (e.g. of a whole sketch) where 64 bits would
    collide at 10^12-row scale."""
    if rows.ndim != 2 or rows.dtype != np.uint8:
        raise ValueError("rows must be a 2-D uint8 array")
    n, length = rows.shape
    nblocks = length // 16
    h1 = np.full(n, np.uint64(seed), dtype=np.uint64)
    h2 = h1.copy()
    if nblocks:
        body = np.ascontiguousarray(rows[:, : nblocks * 16])
        blocks = body.view("<u8").reshape(n, nblocks * 2)
        for i in range(nblocks):
            k1 = blocks[:, 2 * i].copy()
            k2 = blocks[:, 2 * i + 1].copy()
            k1 *= _C1
            k1 = _rotl64(k1, _U31)
            k1 *= _C2
            h1 ^= k1
            h1 = _rotl64(h1, _U27)
            h1 += h2
            h1 = h1 * _U5 + _ADD1
            k2 *= _C2
            k2 = _rotl64(k2, _U33)
            k2 *= _C1
            h2 ^= k2
            h2 = _rotl64(h2, _U31)
            h2 += h1
            h2 = h2 * _U5 + _ADD2
    tail_len = length & 15
    if tail_len:
        tail = rows[:, nblocks * 16 :]
        if tail_len >= 9:
            k2 = np.zeros(n, dtype=np.uint64)
            for ti in range(tail_len, 8, -1):  # bytes 15..9 of the switch
                k2 ^= tail[:, ti - 1].astype(np.uint64) << np.uint64(8 * (ti - 9))
            k2 *= _C2
            k2 = _rotl64(k2, _U33)
            k2 *= _C1
            h2 ^= k2
        k1 = np.zeros(n, dtype=np.uint64)
        for ti in range(min(tail_len, 8), 0, -1):  # bytes 8..1
            k1 ^= tail[:, ti - 1].astype(np.uint64) << np.uint64(8 * (ti - 1))
        k1 *= _C1
        k1 = _rotl64(k1, _U31)
        k1 *= _C2
        h1 ^= k1
    ulen = np.uint64(length)
    h1 ^= ulen
    h2 ^= ulen
    h1 += h2
    h2 += h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 += h2
    h2 += h1
    return h1, h2


def murmur3_x64_128_h1(rows: np.ndarray, seed: int) -> np.ndarray:
    """Hash each row of a (n, L) uint8 matrix; return (n,) uint64 h1 lane.

    Output bytes [0:8] of ``MurmurHash3_x64_128`` interpreted
    little-endian, i.e. Mash's ``hash_u.hash64`` (``hash.cpp:28-35``).
    """
    return murmur3_x64_128_both(rows, seed)[0]


def murmur3_x64_128_h1_bytes(data: bytes, seed: int) -> int:
    """Scalar convenience wrapper (tests, tiny inputs)."""
    row = np.frombuffer(data, dtype=np.uint8).reshape(1, -1)
    if len(data) == 0:
        row = np.zeros((1, 0), dtype=np.uint8)
    return int(murmur3_x64_128_h1(row, seed)[0])


# reused per-process buffers for hash_shingles_concat: a fresh multi-MB
# np.empty per Arrow batch goes straight back to the OS on free (glibc
# mmap threshold), so every batch would re-pay first-touch page faults —
# pathologically expensive on this host (measured: the SAME hashing loop
# runs 20x slower right after a fresh large allocation). Workers are
# single-threaded; callers consume the returned view before the next
# call (bottom_k/np.unique copy what they keep).
_HSC_SCRATCH = np.empty(0, dtype=np.uint64)
_HSC_PAD = np.empty(0, dtype=np.uint8)
_HSC_U64 = np.empty(0, dtype=np.uint64)


def _u64_loads_into(dst: np.ndarray, src: np.ndarray, n: int) -> np.ndarray:
    """dst[j] = little-endian uint64 loaded at byte offset j of ``src``
    for j in [0, n) (``src`` must hold at least n+7 bytes). Built with 8
    strided aligned-view copies — one write per output element — instead
    of per-byte upcast/shift/or lanes. This is the gather that lets the
    murmur rounds below consume sliding windows WITHOUT materializing an
    (n, k) window matrix. Called per CHUNK so dst stays L2-resident (a
    whole-buffer load table made each of the 8 strided passes re-stream
    the full multi-MB table from DRAM — measured ~15% slower solo and
    worse under multi-worker bandwidth contention)."""
    out = dst[:n]
    for r in range(8):
        lane = out[r::8]
        lane[:] = src[r : r + len(lane) * 8].view("<u8")
    return out


def hash_shingles_concat(buf: np.ndarray, k: int, seed: int,
                         chunk_windows: int = 16_384) -> np.ndarray:
    """Hash every length-k sliding window of a flat uint8 buffer at once.

    Returns (len(buf)-k+1,) uint64. Callers batching many documents
    concatenate their bytes and discard the k-1 boundary-crossing windows
    per document (see ``minhash.sketch_concat``) — one vectorized murmur pass
    per Arrow batch instead of one per document.

    Kernel shape (round-6 rewrite, bit-identical to the window-matrix
    form — asserted against it in tests): window i's murmur blocks are
    plain unaligned u64 loads at byte offsets i, i+8, ... of the flat
    buffer, so a per-chunk load table ``U[j] = le64(buf[lo+j : lo+j+8])``
    (8 strided copies, see ``_u64_loads_into``) replaces the per-chunk
    (n, k) byte-gather + per-byte tail upcasts entirely; the murmur
    rounds become pure vector ops over U slices (views, no copies), and
    the tail bytes are one masked load instead of up to 15 upcast/shift
    lanes. Measured 3x on this host at k=21 (14 -> 42 Mwin/s per core
    solo; 21 -> 32 Mwin/s/proc under 6-way bandwidth contention) with
    ~2x less memory traffic per window.

    Processes in chunks of ``chunk_windows`` windows so the load table
    and every murmur temporary stay cache-resident while only the input
    text streams from DRAM.
    """
    global _HSC_SCRATCH, _HSC_PAD, _HSC_U64
    if buf.ndim != 1 or buf.dtype != np.uint8:
        raise ValueError("buf must be a 1-D uint8 array")
    n = len(buf) - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    nblocks = k // 16
    tail_len = k & 15
    toff = 16 * nblocks
    # pad 16 zero bytes: tail/block loads of the LAST windows read up to
    # 15 bytes past the text end (the excess is masked off below)
    if len(_HSC_PAD) < len(buf) + 16:
        _HSC_PAD = np.empty(int(len(buf) * 1.25) + 24, dtype=np.uint8)
    padded = _HSC_PAD[: len(buf) + 16]
    padded[: len(buf)] = buf
    padded[len(buf):] = 0
    span = chunk_windows + toff + 8
    if len(_HSC_U64) < span:
        _HSC_U64 = np.empty(span + 64, dtype=np.uint64)
    if len(_HSC_SCRATCH) < n:
        _HSC_SCRATCH = np.empty(int(n * 1.25), dtype=np.uint64)
    out = _HSC_SCRATCH[:n]
    useed = np.uint64(seed)
    ulen = np.uint64(k)
    if tail_len:
        tmask1 = np.uint64((1 << (8 * min(tail_len, 8))) - 1)
        tmask2 = np.uint64((1 << (8 * (tail_len - 8))) - 1) if tail_len > 8 else None
    for lo in range(0, n, chunk_windows):
        hi = min(lo + chunk_windows, n)
        m = hi - lo
        need = m + toff + 8
        U = _u64_loads_into(_HSC_U64, padded[lo : lo + need + 7], need)
        h1 = np.full(m, useed, dtype=np.uint64)
        h2 = h1.copy()
        for b in range(nblocks):
            k1 = U[16 * b : 16 * b + m] * _C1
            k1 = _rotl64(k1, _U31)
            k1 *= _C2
            h1 ^= k1
            h1 = _rotl64(h1, _U27)
            h1 += h2
            h1 = h1 * _U5 + _ADD1
            k2 = U[16 * b + 8 : 16 * b + 8 + m] * _C2
            k2 = _rotl64(k2, _U33)
            k2 *= _C1
            h2 ^= k2
            h2 = _rotl64(h2, _U31)
            h2 += h1
            h2 = h2 * _U5 + _ADD2
        if tail_len:
            if tail_len > 8:
                k2 = U[toff + 8 : toff + 8 + m] & tmask2
                k2 *= _C2
                k2 = _rotl64(k2, _U33)
                k2 *= _C1
                h2 ^= k2
                k1 = U[toff : toff + m].copy()
            else:
                k1 = U[toff : toff + m] & tmask1
            k1 *= _C1
            k1 = _rotl64(k1, _U31)
            k1 *= _C2
            h1 ^= k1
        h1 ^= ulen
        h2 ^= ulen
        h1 += h2
        h2 += h1
        h1 = _fmix64(h1)
        h2 = _fmix64(h2)
        h1 += h2
        out[lo:hi] = h1
    return out


# ---------------------------------------------------------------------------
# unsigned <-> signed codecs (SURVEY.md §1.2)
# ---------------------------------------------------------------------------


def encode_signed(u: np.ndarray) -> np.ndarray:
    """uint64 hash -> int64 with identical ordering (x ^ 2**63)."""
    return (np.asarray(u, dtype=np.uint64) ^ _SIGN).view(np.int64)


def decode_signed(s: np.ndarray) -> np.ndarray:
    """int64 at-rest value -> original uint64 hash."""
    return (np.asarray(s, dtype=np.int64).view(np.uint64)) ^ _SIGN


def decode_sketch_bytes(buf) -> np.ndarray:
    """binary sketch blob -> uint64 hashes (ascending unsigned)."""
    if buf is None or len(buf) == 0:
        return np.empty(0, dtype=np.uint64)
    return decode_signed(np.frombuffer(buf, dtype="<i8"))


def signed_sketch_bytes(buf) -> np.ndarray:
    """binary sketch blob -> signed-encoded int64 view (ordering-safe)."""
    if buf is None or len(buf) == 0:
        return np.empty(0, dtype=np.int64)
    return np.frombuffer(buf, dtype="<i8")
