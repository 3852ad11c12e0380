"""MurmurHash3_x64_128 pinned to SMHasher's published verification value.

SMHasher's ``VerificationTest`` (``KeysetTest.cpp``) hashes the keys
``bytes(range(i))`` for i in 0..255 with seed ``256 - i``, concatenates the
256 128-bit digests (h1 then h2, little-endian), hashes that 4,096-byte
buffer with seed 0 and reads the low 32 bits of the result. For
MurmurHash3_x64_128 ("Murmur3F") the value is 0x6384BA69. A single wrong
rotation, constant or tail byte anywhere in the hasher changes it, so this
is a bit-exactness anchor that needs no data files and no Spark. The
h1-only hasher the sketcher and DNA mode call is the first lane of the
same function, checked on every key.
"""

import numpy as np

from mashspark.hashing import murmur3_x64_128_both, murmur3_x64_128_h1

MURMUR3F_VERIFICATION = 0x6384BA69


def _digest(key: bytes, seed: int) -> bytes:
    row = np.frombuffer(key, dtype=np.uint8).reshape(1, len(key))
    h1, h2 = murmur3_x64_128_both(row, seed)
    assert np.array_equal(murmur3_x64_128_h1(row, seed), h1)
    return int(h1[0]).to_bytes(8, "little") + int(h2[0]).to_bytes(8, "little")


def test_murmur3_x64_128_smhasher_verification_value():
    buf = b"".join(_digest(bytes(range(i)), 256 - i) for i in range(256))
    assert len(buf) == 256 * 16
    final = _digest(buf, 0)
    got = int.from_bytes(final[:4], "little")
    assert got == MURMUR3F_VERIFICATION, hex(got)
