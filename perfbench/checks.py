"""Correctness checks and the pair-recall ground truth, in numpy only.

The ground truth is an exhaustive Mash-exact pass (``minhash.sketch_batch``
+ ``compare.capped_merge_sorted``, the scalar reference merge) over a
family-closed subset of the corpus: every page of each sampled base family,
so every true near-duplicate pair inside the subset is found.
"""

from __future__ import annotations

import hashlib

import numpy as np

from mashspark.compare import capped_merge_sorted
from mashspark.minhash import sketch_batch
from mashspark.params import PipelineConfig

from .workloads import Corpus

SUBSET_FAMILIES = 48   # multi-page families in the recall subset
SUBSET_SINGLES = 48    # single-page families added as negatives
SAMPLE_PAIRS = 24      # verified pairs (or flagged docs) recomputed per run


def sketches(texts: list[str], config: PipelineConfig) -> list[np.ndarray]:
    sp = config.sketch
    return [sk for sk, _nk, _card in
            sketch_batch(texts, sp.k, sp.s, sp.seed, sp.min_cov)]


def _subset(corpus: Corpus) -> list[int]:
    """Doc ids of a seeded family-closed sample: whole families only."""
    members: dict[int, list[int]] = {}
    for doc_id, fam in corpus.family.items():
        members.setdefault(fam, []).append(doc_id)
    multi = sorted(f for f, m in members.items() if len(m) > 1)
    single = sorted(f for f, m in members.items() if len(m) == 1)
    rng = np.random.default_rng([corpus.seed, 0x72656361])
    fams = list(rng.choice(multi, size=min(SUBSET_FAMILIES, len(multi)), replace=False))
    fams += list(rng.choice(single, size=min(SUBSET_SINGLES, len(single)), replace=False))
    return sorted(d for f in fams for d in members[int(f)])


def ground_truth(corpus: Corpus, config: PipelineConfig) -> list[tuple[int, int]]:
    """All pairs (a, b) in the subset with Mash-exact J >= the threshold.

    Self-dedup workloads pair every two subset docs; the incremental
    workload pairs each new doc with each reference doc."""
    ids = _subset(corpus)
    texts = {**corpus.ref, **corpus.docs}
    sks = dict(zip(ids, sketches([texts[i] for i in ids], config)))
    s, t = config.sketch.s, config.jaccard_threshold
    if corpus.ref:
        left = [i for i in ids if i in corpus.docs]
        right = [i for i in ids if i in corpus.ref]
        cand = [(a, b) for a in left for b in right]
    else:
        cand = [(a, b) for n, a in enumerate(ids) for b in ids[n + 1:]]
    out = []
    for a, b in cand:
        common, denom = capped_merge_sorted(sks[a], sks[b], s)
        if denom and common / denom >= t:
            out.append((a, b))
    return out


def digest(*cols: np.ndarray) -> str:
    """sha256 of rows sorted by their columns (int64, row-major)."""
    mat = np.stack([np.asarray(c, dtype=np.int64) for c in cols], axis=1)
    mat = mat[np.lexsort(mat.T[::-1])]
    return hashlib.sha256(np.ascontiguousarray(mat).tobytes()).hexdigest()


def check_clusters(corpus: Corpus, doc_id: np.ndarray, cluster_id: np.ndarray) -> list[str]:
    """One row per input doc; cluster_id = the min doc_id of its cluster;
    mirrors share their original's cluster."""
    errs = []
    want = np.array(sorted(corpus.docs), dtype=np.int64)
    got = np.sort(doc_id)
    if len(got) != len(want) or not np.array_equal(got, want):
        errs.append(f"cluster rows: {len(got)} rows for {len(want)} docs "
                    f"({len(np.unique(got))} distinct ids)")
        return errs
    order = np.argsort(cluster_id, kind="stable")
    cid, did = cluster_id[order], doc_id[order]
    starts = np.flatnonzero(np.r_[True, cid[1:] != cid[:-1]])
    mins = np.minimum.reduceat(did, starts)
    bad = np.flatnonzero(mins != cid[starts])
    if len(bad):
        errs.append(f"{len(bad)} clusters whose id is not their min doc_id "
                    f"(e.g. cluster {cid[starts[bad[0]]]}, min {mins[bad[0]]})")
    of = dict(zip(doc_id.tolist(), cluster_id.tolist()))
    split = [m for m, o in corpus.mirror_of.items() if of[m] != of[o]]
    if split:
        errs.append(f"{len(split)} mirrors outside their original's cluster "
                    f"(e.g. {split[0]})")
    return errs


def _even_sample(n: int) -> np.ndarray:
    return np.unique(np.linspace(0, n - 1, num=min(n, SAMPLE_PAIRS)).astype(np.int64))


def check_pairs(corpus: Corpus, config: PipelineConfig, id_a, id_b, common, denom) -> list[str]:
    """Recompute (common, denom) of an even sample of verified pairs."""
    order = np.lexsort((id_b, id_a))
    pick = order[_even_sample(len(order))] if len(order) else order
    errs = []
    for i in pick:
        a, b = int(id_a[i]), int(id_b[i])
        ska, skb = sketches([corpus.docs[a], corpus.docs[b]], config)
        want = capped_merge_sorted(ska, skb, config.sketch.s)
        if want != (int(common[i]), int(denom[i])):
            errs.append(f"pair ({a}, {b}): reported {(int(common[i]), int(denom[i]))}, "
                        f"recomputed {want}")
        elif want[0] / want[1] < config.jaccard_threshold:
            errs.append(f"pair ({a}, {b}) below the threshold: {want}")
    return errs


def check_decisions(corpus: Corpus, config: PipelineConfig, doc_id, is_dup,
                    dup_of, jaccard) -> list[str]:
    """One decision per new doc; for an even sample of flagged docs the
    recomputed common/denom against ``dup_of`` equals the reported J."""
    errs = []
    want = np.array(sorted(corpus.docs), dtype=np.int64)
    if not np.array_equal(np.sort(doc_id), want):
        return [f"decision rows: {len(doc_id)} rows for {len(want)} new docs"]
    flagged = np.flatnonzero(is_dup)
    flagged = flagged[np.argsort(doc_id[flagged])]
    for i in flagged[_even_sample(len(flagged))] if len(flagged) else flagged:
        a, b = int(doc_id[i]), int(dup_of[i])
        if b not in corpus.ref:
            errs.append(f"doc {a} flagged as a dup of {b}, not a reference doc")
            continue
        ska, skb = sketches([corpus.docs[a], corpus.ref[b]], config)
        c, d = capped_merge_sorted(ska, skb, config.sketch.s)
        if not d or c / d != float(jaccard[i]) or c / d < config.jaccard_threshold:
            errs.append(f"doc {a} vs {b}: reported J={jaccard[i]}, recomputed {c}/{d}")
    return errs


def recall(truth: list[tuple[int, int]], same) -> float:
    """Share of ground-truth pairs for which ``same(a, b)`` holds."""
    if not truth:
        return 1.0
    return sum(bool(same(a, b)) for a, b in truth) / len(truth)
