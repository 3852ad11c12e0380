"""Sketch / LSH / pipeline parameter objects.

Mirrors the reference parameter surface (marbl/Mash
``src/mash/Sketch.h:34-106`` ``Parameters``; defaults from
``src/mash/Command.cpp:168,172,178``: k=21, sketchSize=1000, seed=42) as a
frozen dataclass that is cheap to broadcast to executors.

The reference enforces parameter compatibility at sketch-load time
(``Sketch.cpp:133-165``); we enforce it with :meth:`SketchParams.check_compatible`
before any cross-sketch comparison.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict

# schema-metadata key under which sketch tables carry their build params
# (the Spark analog of the reference's sketch-file header, Sketch.cpp:133-160)
PARAMS_META_KEY = "mashspark.sketch_params"


def params_from_schema(df) -> "SketchParams | None":
    """Recover the SketchParams a sketch table was built with from the
    ``sketch`` column's schema metadata (set by ``sketch.sketch_documents``;
    survives select/join/parquet round-trips). None if absent — e.g. a
    hand-built table — in which case callers trust their explicit params,
    like the reference trusts CLI flags when no file header exists."""
    for f in df.schema.fields:
        if f.name == "sketch" and f.metadata and PARAMS_META_KEY in f.metadata:
            d = dict(f.metadata[PARAMS_META_KEY])
            return SketchParams(**{k: int(v) for k, v in d.items()})
    return None


@dataclass(frozen=True)
class SketchParams:
    """Parameters of the bottom-k MinHash sketch.

    k:        shingle (k-mer) size in characters/bytes (Mash ``kmerSize``).
    s:        sketch size = number of smallest distinct hashes kept
              (Mash ``minHashesPerWindow``, aka ``-s``).
    seed:     murmur3 hash seed (Mash ``hashSeed``, default 42).
    min_cov:  a hash enters the sketch only after being seen this many
              times (Mash ``-m`` reads-mode noise filter,
              ``MinHashHeap.cpp:96-118``). Default 1 = keep all.
    alphabet_size: size of the input alphabet; defines
              ``kmer_space = alphabet_size ** k`` used by p-values
              (``Sketch.cpp:58-61``). For web text we use 256 (bytes).
    """

    k: int = 21
    s: int = 1000
    seed: int = 42
    min_cov: int = 1
    alphabet_size: int = 256

    @property
    def kmer_space(self) -> float:
        # Sketch.cpp kmerSpace = pow(alphabetSize, kmerSize) (double math).
        return float(self.alphabet_size) ** self.k

    def check_compatible(self, other: "SketchParams") -> None:
        """Refuse to compare sketches built under different parameters.

        Reference behavior: mismatched k/seed/alphabet files are skipped at
        load (``Sketch.cpp:133-160``); a larger sketch size is truncated to
        the smaller (``Sketch.cpp:963-968``) — truncation is handled by the
        comparison itself (min(s_a, s_b) rule, ``CommandDistance.cpp:313-315``).
        """
        for f in ("k", "seed", "alphabet_size", "min_cov"):
            if getattr(self, f) != getattr(other, f):
                raise ValueError(
                    f"incompatible sketch params: {f}={getattr(self, f)!r} "
                    f"vs {getattr(other, f)!r}"
                )

    def to_dict(self) -> dict:
        return asdict(self)


@dataclass(frozen=True)
class LSHParams:
    """Banded-LSH candidate-generation parameters.

    Scheme: **residue-class banding of the bottom-k sketch**. Each sketch
    hash h is assigned to band ``h & (bands-1)`` (bands = power of two);
    a band's key is an order-independent fingerprint (xor-fold of mixed
    elements + cardinality) of the doc's sketch elements in that residue
    class. Two docs collide in a band iff their sketch∩class subsets are
    identical.

    Why not the textbook alternatives:
    * positional bands over the sorted bottom-k sketch — a single inserted
      low hash shifts every later band boundary, so near-identical docs
      miss every band (shift fragility);
    * extra per-band minhash permutations (Spark MLlib MinHashLSH style) —
      shift-free but costs O(n_shingles × bands·rows) extra hashing per
      doc; residue-class banding is O(s) per doc on top of the sketch we
      already computed, and derives entirely from the Mash sketch.

    Banding runs over the bottom-``prefix`` PREFIX of the sketch (itself a
    valid bottom-k sketch of the same hash stream). Band-match probability
    at sketch overlap f (= fraction of union sketches shared; f = 2j/(1+j)
    under Jaccard j) is ~ f**(u/bands) with u = union prefix-sketch size,
    so fewer elements per band -> higher per-band match rate -> fewer
    bands needed for the same recall. Defaults (prefix=128, bands=32,
    ~4.7 elements/band): j=0.7 -> per-band ~0.39, recall ~1-1e-7;
    j=0.5 -> ~0.98; j=0.1 -> per-band ~4e-6 (strong rejection). A
    128-band full-sketch scheme needs 4x the exploded rows for comparable
    recall at j=0.7. Verified empirically in tests/test_pipeline.py; key
    collisions only ADD candidates (the Mash-exact verify pass removes
    them), they can never lose a true pair.

    band_doc_cap: buckets above this size switch from all-pairs to linear
    star candidates; hard_bucket_cap: buckets above this are dropped with
    logged drop metrics (lsh.py).
    """

    bands: int = 32
    prefix: int = 128
    # all-pairs enumeration only for buckets up to this size (measured on
    # the synthetic corpus: boilerplate buckets are 512-2048 docs and
    # produce millions of junk pairs; true near-dup families are small).
    # Bigger buckets get linear star candidates; beyond hard_bucket_cap,
    # drop + log.
    band_doc_cap: int = 64
    hard_bucket_cap: int = 10_000_000

    def __post_init__(self):
        if self.bands & (self.bands - 1):
            raise ValueError("bands must be a power of two")

    def to_dict(self) -> dict:
        return asdict(self)


@dataclass(frozen=True)
class PipelineConfig:
    """End-to-end dedup pipeline configuration."""

    sketch: SketchParams = field(default_factory=SketchParams)
    lsh: LSHParams = field(default_factory=LSHParams)
    # duplicate-edge threshold on the Mash-semantics capped-merge Jaccard
    # estimate (CommandDistance.cpp:336-385). Pairs with jaccard >= this
    # become edges of the clustering graph.
    jaccard_threshold: float = 0.7
    # optional max mash distance / max p-value filters (reference -d / -v,
    # CommandDistance.cpp:409-422); None = disabled (reference defaults).
    max_distance: float | None = None
    max_pvalue: float | None = None
    cc_max_iterations: int = 25
    # below this many edges, CC runs as a driver union-find (identical
    # labels, one job); above, distributed large/small-star. 0 = always
    # distributed.
    cc_driver_threshold: int = 2_000_000

    def to_dict(self) -> dict:
        d = {
            "sketch": self.sketch.to_dict(),
            "lsh": self.lsh.to_dict(),
            "jaccard_threshold": self.jaccard_threshold,
            "max_distance": self.max_distance,
            "max_pvalue": self.max_pvalue,
            "cc_max_iterations": self.cc_max_iterations,
            "cc_driver_threshold": self.cc_driver_threshold,
        }
        return d
