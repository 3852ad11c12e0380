"""Spark sketching stage: documents -> bottom-k sketches + LSH band keys.

One ``mapInArrow`` generator (``make_sketch_arrow_gen``) reads each Arrow
batch's text buffer as-is and hands it to the sketch kernel
(``minhash.sketch_concat``: a SINGLE murmur3 pass over the batch's
concatenated bytes, per-doc bottom-k distinct selection with Mash
``MinHashHeap`` semantics, the KMV cardinality estimate), then adds
residue-class band keys and fp128 through their batch kernels — no shuffle
(map-only stage; this is why sketching scales linearly with executors,
replacing the reference's thread pool at ``Sketch.cpp:211,354``).

Sketch hashes are stored sign-flip-encoded int64 (``hashing.encode_signed``)
so Spark-native ordering equals Mash's unsigned ordering.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType, LongType,
                               StructField, StructType)

from .hashing import _fmix64, encode_signed
from .minhash import sketch_concat
from .params import LSHParams, SketchParams

_GOLD = np.uint64(0x9E3779B97F4A7C15)
_BANDSEED = np.uint64(0xA5A5A5A55A5A5A5A)

SKETCH_FIELDS = StructType(
    [
        # sketch = sign-flip-encoded int64 hashes, ascending unsigned,
        # packed little-endian into ONE binary blob: shuffling/caching an
        # opaque byte[] is a memcpy, while array<long> pays per-element
        # UnsafeArrayData + columnar-cache encoding (measured ~7x slower
        # on the fat repartition at bench scale).
        StructField("sketch", BinaryType(), False),
        StructField("n_kmers", LongType(), False),
        StructField("card_est", LongType(), False),
        StructField("band_key", ArrayType(LongType()), False),
        # 128-bit fingerprint of the sketch content (sketch_fp128):
        # exact-duplicate collapse groups on (fp1, fp2) — 24 B/doc through
        # the shuffle instead of the 8 KB sketch array, collision-safe at
        # 10^12 docs (2^-128 birthday margin), unlike a single 64-bit key.
        StructField("fp1", LongType(), False),
        StructField("fp2", LongType(), False),
    ]
)


def compute_band_keys(sketch_u64: np.ndarray, bands: int,
                      prefix: int | None = None) -> np.ndarray:
    """band_key uint64[] (one per non-empty residue class) for one sketch.

    Operates on the bottom-``prefix`` prefix of the sketch (a bottom-k
    sketch of the same stream — fewer elements per band means a higher
    per-band match rate, see LSHParams). Band of element h =
    ``h & (bands-1)``; key = order-independent fingerprint (xor-fold of
    fmix64-mixed elements, cardinality and residue class all mixed in —
    the class is IN the key, so a single int64 is a complete bucket id).
    Key collisions only add false candidates — the Mash-exact verify pass
    removes them — so a fold fingerprint is safe here.
    """
    if prefix is not None:
        sketch_u64 = sketch_u64[:prefix]
    if len(sketch_u64) == 0:
        return np.empty(0, dtype=np.uint64)
    mask = np.uint64(bands - 1)
    cls = (sketch_u64 & mask).astype(np.int64)
    order = np.argsort(cls, kind="stable")
    scls = cls[order]
    mixed = _fmix64(sketch_u64[order] * _GOLD ^ _BANDSEED)
    starts = np.flatnonzero(np.r_[True, scls[1:] != scls[:-1]])
    xors = np.bitwise_xor.reduceat(mixed, starts)
    counts = np.diff(np.r_[starts, len(scls)]).astype(np.uint64)
    idx = scls[starts]
    keys = _fmix64(xors ^ _fmix64(counts * _GOLD ^ idx.astype(np.uint64) ^ _BANDSEED))
    return keys


_FPS1 = np.uint64(0x5851F42D4C957F2D)
_FPS2 = np.uint64(0x2545F4914F6CDD1D)


def sketch_fp128(sk: np.ndarray) -> tuple[int, int]:
    """128-bit content fingerprint of a sketch (two independent xor-folds
    of fmix64-mixed elements + cardinality). Distinct-in-one-element
    sketches can never collide; random multi-element differences collide
    with ~2^-128 probability — safe for exact-dup collapse at 10^12 docs.
    Vectorized (3 array ops per doc) — a streaming murmur over the 8 KB
    sketch bytes here would be a 500-step scalar loop per doc."""
    if len(sk) == 0:
        return 0, 0
    n = np.array([len(sk)], dtype=np.uint64)  # 1-elem array: silent wraparound
    f1 = np.bitwise_xor.reduce(_fmix64(sk ^ _FPS1)) ^ _fmix64(n * _GOLD ^ _FPS1)[0]
    f2 = np.bitwise_xor.reduce(_fmix64(sk ^ _FPS2)) ^ _fmix64(n * _GOLD ^ _FPS2)[0]
    return int(np.uint64(f1).view(np.int64)), int(np.uint64(f2).view(np.int64))


def batch_band_keys(sketches: list, bands: int, prefix: int | None):
    """``compute_band_keys`` for a whole batch of sketches with ONE stable
    argsort + reduceat over the concatenation (group key = doc*bands +
    residue class) instead of ~10 small numpy calls per document — the
    per-doc calls were half the sketch UDF's CPU. Bit-identical outputs
    (asserted by tests). Returns a list of int64 arrays."""
    n_docs = len(sketches)
    pres = [
        (sk[:prefix] if prefix is not None else sk) for sk in sketches
    ]
    lens = np.array([len(p) for p in pres], dtype=np.int64)
    out: list = [None] * n_docs
    nz = np.flatnonzero(lens)
    if len(nz) == 0:
        return [np.empty(0, dtype=np.int64) for _ in range(n_docs)]
    vals = np.concatenate([pres[i] for i in nz])
    doc_of = np.repeat(np.arange(len(nz), dtype=np.uint64), lens[nz])
    mask = np.uint64(bands - 1)
    cls = vals & mask
    g = doc_of * np.uint64(bands) + cls
    order = np.argsort(g, kind="stable")
    gs = g[order]
    mixed = _fmix64(vals[order] * _GOLD ^ _BANDSEED)
    starts = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
    xors = np.bitwise_xor.reduceat(mixed, starts)
    counts = np.diff(np.r_[starts, len(gs)]).astype(np.uint64)
    idx = gs[starts] & mask
    keys = _fmix64(xors ^ _fmix64(counts * _GOLD ^ idx ^ _BANDSEED)).view(np.int64)
    group_doc = (gs[starts] // np.uint64(bands)).astype(np.int64)
    bounds = np.searchsorted(group_doc, np.arange(len(nz) + 1, dtype=np.int64))
    for j, i in enumerate(nz):
        out[i] = keys[bounds[j] : bounds[j + 1]]
    for i in np.flatnonzero(lens == 0):
        out[i] = np.empty(0, dtype=np.int64)
    return out


def batch_fp128(sketches: list):
    """``sketch_fp128`` for a whole batch via two reduceat passes.
    Bit-identical outputs (asserted by tests). Returns (fp1, fp2) int64
    arrays."""
    n_docs = len(sketches)
    lens = np.array([len(sk) for sk in sketches], dtype=np.int64)
    fp1 = np.zeros(n_docs, dtype=np.int64)
    fp2 = np.zeros(n_docs, dtype=np.int64)
    nz = np.flatnonzero(lens)
    if len(nz) == 0:
        return fp1, fp2
    vals = np.concatenate([sketches[i] for i in nz])
    starts = np.zeros(len(nz), dtype=np.int64)
    np.cumsum(lens[nz][:-1], out=starts[1:])
    n_u = lens[nz].astype(np.uint64)
    f1 = np.bitwise_xor.reduceat(_fmix64(vals ^ _FPS1), starts) ^ _fmix64(
        n_u * _GOLD ^ _FPS1
    )
    f2 = np.bitwise_xor.reduceat(_fmix64(vals ^ _FPS2), starts) ^ _fmix64(
        n_u * _GOLD ^ _FPS2
    )
    fp1[nz] = f1.view(np.int64)
    fp2[nz] = f2.view(np.int64)
    return fp1, fp2


COUNT_SKETCH_FIELDS = StructType(
    [
        StructField("sketch", BinaryType(), False),
        # multiplicity of each surviving sketch hash, aligned with the
        # sketch order (reference -M counts, HashSet.cpp:48-76)
        StructField("counts", ArrayType(IntegerType()), False),
        StructField("n_kmers", LongType(), False),
        StructField("card_est", LongType(), False),
    ]
)


def _params_meta(params: SketchParams) -> dict:
    from .params import PARAMS_META_KEY

    return {PARAMS_META_KEY: params.to_dict()}


def _offsets(lengths) -> np.ndarray:
    """Arrow int32 offsets (n+1, starting at 0) for per-row lengths."""
    offs = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offs[1:])
    return offs


def make_sketch_arrow_gen(params: SketchParams, lsh: LSHParams | None):
    """mapInArrow generator: every input column but ``text`` passes through
    unchanged, then the sketch columns of ``text`` are appended — with
    ``lsh``, ``SKETCH_FIELDS`` (band keys and fp128 for dedup); with
    ``lsh=None``, ``COUNT_SKETCH_FIELDS`` (per-hash multiplicities, the
    reference's ``-M``).

    The text is read straight out of the Arrow string buffer: its
    offsets+data layout IS the concatenated-bytes layout the sketch kernel
    wants. The sketch, band-key and counts columns are built from numpy
    buffers. No per-document Python objects cross the boundary either way.
    """
    import pyarrow as pa

    k, s, seed, min_cov = params.k, params.s, params.seed, params.min_cov
    with_counts = lsh is None
    added = (COUNT_SKETCH_FIELDS if with_counts else SKETCH_FIELDS).names

    def gen(batches):
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            txt = batch.column("text")
            if txt.null_count:
                txt = txt.fill_null("")
            if pa.types.is_large_string(txt.type):
                txt = txt.cast(pa.string())
            bufs = txt.buffers()
            offs = np.frombuffer(bufs[1], dtype=np.int32)[
                txt.offset : txt.offset + n_rows + 1]
            data = np.frombuffer(bufs[2], dtype=np.uint8)
            # one explicit copy into process-heap memory: repeated reads
            # from the Arrow-allocated buffer are ~11x slower on this host
            # (measured) — the copy is 2 MB/batch and pays for itself in
            # the first murmur chunk
            big = data[offs[0] : offs[-1]].copy()
            sks, n_kmers, cards, counts = sketch_concat(
                big, np.diff(offs), k, s, seed, min_cov, with_counts)

            sk_values = encode_signed(
                np.concatenate(sks)).view(np.uint8)  # int64 IS <i8 (LE)
            sketch_arr = pa.Array.from_buffers(
                pa.binary(), n_rows,
                [None, pa.py_buffer(_offsets([8 * len(sk) for sk in sks])),
                 pa.py_buffer(sk_values)],
            )
            cols = {
                "sketch": sketch_arr,
                "n_kmers": pa.array(n_kmers, type=pa.int64()),
                "card_est": pa.array(cards, type=pa.int64()),
            }
            if with_counts:
                cols["counts"] = pa.ListArray.from_arrays(
                    pa.array(_offsets([len(c) for c in counts])),
                    pa.array(np.concatenate(counts), type=pa.int32()))
            else:
                # band keys and fp128 through their BATCH kernels (one
                # stable argsort/reduceat over the whole batch): the
                # per-doc forms were ~2/3 of this generator's CPU
                bkeys = batch_band_keys(sks, lsh.bands, lsh.prefix)
                fp1, fp2 = batch_fp128(sks)
                cols["band_key"] = pa.ListArray.from_arrays(
                    pa.array(_offsets([len(b) for b in bkeys])),
                    pa.array(np.concatenate(bkeys), type=pa.int64()))
                cols["fp1"] = pa.array(fp1, type=pa.int64())
                cols["fp2"] = pa.array(fp2, type=pa.int64())
            kept = [n for n in batch.schema.names if n != "text"]
            yield pa.RecordBatch.from_arrays(
                [batch.column(n) for n in kept] + [cols[n] for n in added],
                names=kept + added,
            )

    return gen


def map_sketches(df: DataFrame, params: SketchParams,
                 lsh: LSHParams | None) -> DataFrame:
    """``make_sketch_arrow_gen`` over ``df``, which has a string ``text``
    column: every other column keeps its type and nullability, and the
    sketch columns follow. Map-only."""
    added = COUNT_SKETCH_FIELDS if lsh is None else SKETCH_FIELDS
    schema = StructType(
        [f for f in df.schema.fields if f.name != "text"] + added.fields)
    return df.mapInArrow(make_sketch_arrow_gen(params, lsh), schema=schema)


def sketch_documents_with_counts(df: DataFrame, params: SketchParams,
                                 id_col: str = "doc_id",
                                 text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, sketch, counts, n_kmers, card_est). Map-only,
    like ``sketch_documents`` but with each surviving hash's multiplicity
    kept (A2; reference reads-mode ``-M``/``-m``, ``MinHashHeap.cpp:96-118``,
    ``HashSet.cpp:48-76``). The counts feed the coverage estimate (A6,
    ``MinHashHeap.h:44``) and the count histogram (A7,
    ``CommandInfo.cpp:187-220``)."""
    docs = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    return map_sketches(docs, params, None).withMetadata(
        "sketch", _params_meta(params))


def sketch_documents(df: DataFrame, params: SketchParams, lsh: LSHParams,
                     id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, sketch, n_kmers, card_est, band_key, fp1, fp2).

    Map-only: one ``mapInArrow`` pass of ``make_sketch_arrow_gen``.
    ``doc_id`` is cast to long. Docs shorter than k (null text counts as
    empty) yield an EMPTY sketch (the reference skips such records,
    ``Sketch.cpp:337-341``); they stay in the output as unsketchable rows
    so downstream cluster assignment keeps them as singletons. The params
    fingerprint rides in the ``sketch`` column's metadata so downstream
    comparisons can refuse incompatible tables (F6, ``Sketch.cpp:133-160``).
    """
    docs = df.select(F.col(id_col).cast("long").alias("doc_id"),
                     F.col(text_col).alias("text"))
    # declared NOT NULL, unlike map_sketches' carried columns: the schema
    # this function has always returned
    schema = StructType(
        [StructField("doc_id", LongType(), False)] + SKETCH_FIELDS.fields)
    return docs.mapInArrow(make_sketch_arrow_gen(params, lsh),
                           schema=schema).withMetadata(
        "sketch", _params_meta(params))
