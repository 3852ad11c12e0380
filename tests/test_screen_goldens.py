"""Containment-screen golden parity (reference ``test/ref/screen``,
produced by ``Makefile.in:113-115``: screen genomes.msh against both
fastqs).

The genome FASTAs are stripped from the snapshot but their sketches
survive in ``test/ref/genomes.json``; the mixture fastqs are present, so
the full screen computation (``CommandScreen.cpp:300-455``) is
reproducible: count mixture occurrences of each indexed sketch hash,
shared = #hashes with count >= min_cov (default 1), median depth =
sorted_depths[shared // 2], identity = (shared/s)**(1/k), p-value =
binomial tail with r = mixture_set_size / kmer_space where
mixture_set_size is the KMV estimate over ALL mixture k-mers
(``CommandScreen.cpp:322``)."""

import math
import os

import numpy as np
import pytest

from mashspark import compare, dna, minhash
from tests.conftest import REF, golden_sketch, requires_reference

K, S, SEED = 21, 1000, 42
KMER_SPACE = 4.0**21


@pytest.fixture(scope="module")
def mixture_hashes():
    paths = [os.path.join(REF, "test", f) for f in ("reads1.fastq", "reads2.fastq")]
    return dna.hash_fastq_files(paths, K, SEED)


def _golden_screen_rows():
    rows = []
    with open(os.path.join(REF, "test", "ref", "screen")) as f:
        for line in f:
            ident, shared, med, pval, name, _comment = line.split("\t", 5)
            c, d = shared.split("/")
            rows.append((float(ident), int(c), int(d), int(med), float(pval), name))
    return rows


@requires_reference
def test_screen_goldens(genomes_golden, mixture_hashes):
    mix_vals, mix_counts = np.unique(mixture_hashes, return_counts=True)
    set_size = minhash.kmv_set_size(minhash.bottom_k(mixture_hashes, S))
    by_name = {s["name"]: i for i, s in enumerate(genomes_golden["sketches"])}
    for ident_g, common_g, denom_g, med_g, pval_g, name in _golden_screen_rows():
        gsk = golden_sketch(genomes_golden, by_name[name])
        pos = np.searchsorted(mix_vals, gsk)
        pos = np.clip(pos, 0, len(mix_vals) - 1)
        hit = mix_vals[pos] == gsk
        depths = mix_counts[pos[hit]]
        shared = int(hit.sum())
        assert (shared, len(gsk)) == (common_g, denom_g), name
        depths_sorted = np.sort(depths)
        med = int(depths_sorted[shared // 2]) if shared else 0
        assert med == med_g, name
        ident = float(compare.identity(shared, len(gsk), K))
        assert math.isclose(ident, ident_g, abs_tol=1e-6), name
        p = float(compare.pvalue_screen(shared, set_size, KMER_SPACE, len(gsk))[0])
        assert math.isclose(p, pval_g, rel_tol=5e-5), (name, p, pval_g)
