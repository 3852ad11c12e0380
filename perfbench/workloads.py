"""Seeded input generation for the benchmark workloads.

Every page comes from ``mashspark.webtext.gen_base_docs``, which is a pure
function of (seed, base_id), so one seed always yields the same corpus. The
corpus is written once to parquet with pyarrow (no Spark), and the program
under test only ever sees that parquet.

Why these two shapes (see README.md):

* ``crawl-dense``: short boilerplate pages, every base with 0-5 variants and
  10% verbatim mirrors. Exact collapse, the LSH self-join, verify and CC
  carry the work.
* ``crawl-incremental``: a new slice of long Common-Crawl-shaped pages
  deduplicated against a reference four times its size, whose sketch table
  is written once and read back. The job sketches only the new slice, joins
  it to the reference by band key and verifies; there is no self-join, no
  exact collapse and no CC, so gains there should show no change here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mashspark.webtext import MAX_DUPS, gen_base_docs

STRIDE = MAX_DUPS + 1


@dataclass(frozen=True)
class Shape:
    """One workload's corpus shape (arguments of ``gen_base_docs``)."""

    n_base: int
    min_words: int
    max_words: int
    boilerplate_prob: float
    dup_prob: float
    mirror_frac: float = 0.0


# Sized on a 4-vCPU host so that set-up plus three jobs fit in about a
# minute: set-up (session start and a cold warm-up pass) alone takes ~25 s.
SHAPES = {
    "crawl-dense": Shape(n_base=900, min_words=30, max_words=200,
                         boilerplate_prob=1.0, dup_prob=1.0, mirror_frac=0.1),
    # reference = the base page of every base; the new slice = the near-dup
    # variants of every INCR_EVERY-th base plus fresh pages of unseen bases
    "crawl-incremental": Shape(n_base=2400, min_words=400, max_words=3000,
                               boilerplate_prob=0.5, dup_prob=1.0),
}
WORKLOADS = tuple(SHAPES)
INCR_EVERY = 16
INCR_FRESH_FRAC = 0.1  # fresh pages, as a share of the reference size


@dataclass
class Corpus:
    """Generated pages of one (workload, seed), kept in memory for checks.

    ``docs`` is what the job reads; ``ref`` is the reference corpus of the
    incremental workload (empty otherwise). ``family`` maps each doc id to
    its base id, and ``mirror_of`` maps a mirror's id to its original's.
    """

    workload: str
    seed: int
    docs: dict[int, str] = field(default_factory=dict)
    ref: dict[int, str] = field(default_factory=dict)
    family: dict[int, int] = field(default_factory=dict)
    mirror_of: dict[int, int] = field(default_factory=dict)

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.docs.values())


def _pages(shape: Shape, base_id: int, seed: int, variants: bool = True) -> list[dict]:
    """A base's pages; ``variants=False`` yields only the base page, which
    is the same page either way (its text does not depend on dup_prob)."""
    return gen_base_docs(base_id, seed=seed, min_words=shape.min_words,
                         max_words=shape.max_words,
                         boilerplate_prob=shape.boilerplate_prob,
                         dup_prob=shape.dup_prob if variants else 0.0)


def generate(workload: str, seed: int) -> Corpus:
    """Build the corpus of ``workload`` for ``seed``."""
    shape = SHAPES[workload]
    c = Corpus(workload, seed)
    if workload == "crawl-incremental":
        for b in range(shape.n_base):
            pages = _pages(shape, b, seed, variants=b % INCR_EVERY == 0)
            c.ref[pages[0]["doc_id"]] = pages[0]["text"]
            c.family[pages[0]["doc_id"]] = b
            if b % INCR_EVERY == 0:
                for p in pages[1:]:
                    c.docs[p["doc_id"]] = p["text"]
                    c.family[p["doc_id"]] = b
        n_fresh = int(shape.n_base * INCR_FRESH_FRAC)
        for b in range(shape.n_base, shape.n_base + n_fresh):
            p = _pages(shape, b, seed, variants=False)[0]
            c.docs[p["doc_id"]] = p["text"]
            c.family[p["doc_id"]] = b
        return c
    for b in range(shape.n_base):
        for p in _pages(shape, b, seed):
            c.docs[p["doc_id"]] = p["text"]
            c.family[p["doc_id"]] = b
    if shape.mirror_frac:
        ids = np.array(sorted(c.docs), dtype=np.int64)
        rng = np.random.default_rng([seed, 0x6D697272])
        picked = np.sort(rng.choice(ids, size=int(len(ids) * shape.mirror_frac),
                                    replace=False))
        next_id = shape.n_base * STRIDE
        for i, orig in enumerate(picked.tolist()):
            c.docs[next_id + i] = c.docs[orig]
            c.family[next_id + i] = c.family[orig]
            c.mirror_of[next_id + i] = orig
    return c


def _table(pages: dict[int, str]) -> pa.Table:
    ids = sorted(pages)
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "url": pa.array([f"https://site{i % 17}.example/p/{i}" for i in ids]),
        "text": pa.array([pages[i] for i in ids], type=pa.string()),
    })


def write_parquet(corpus: Corpus, out_dir: str) -> dict[str, str]:
    """Write the corpus as parquet under ``out_dir``; returns the paths
    (``docs``, and ``ref`` for the incremental workload)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {"docs": os.path.join(out_dir, "docs.parquet")}
    if corpus.ref:
        paths["ref"] = os.path.join(out_dir, "ref.parquet")
    for key, path in paths.items():
        pq.write_table(_table(corpus.docs if key == "docs" else corpus.ref),
                       path, compression="snappy", row_group_size=4096)
    return paths
